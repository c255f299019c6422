"""page_segmentation_spark — a PySpark-native main-content extraction engine.

Re-expresses the per-pixel page-segmentation pipeline of
ocr4all_pixel_classifier (v0.6.5) over web documents:

    pixel              -> DOM text-block node
    page image         -> parsed HTML
    foreground binary  -> "node has visible text"
    per-pixel class    -> per-node {boilerplate, main, media} class
    connected component-> maximal run of consecutive foreground nodes
    region (XY-cut)    -> contiguous main-content span
    mask output        -> extracted main-content text (byte-exact)

Extraction is one Arrow-batched ``mapInArrow`` kernel
(:func:`page_segmentation_spark.functions.text.per_document`) that runs
:func:`page_segmentation_spark.oracle.classify_document` on each page:
parse, features, scoring, connected-component vote and span cut happen
per document in the Python worker, with no Exchange, so Spark output
equals the single-document oracle by construction.

Importing the package in a Spark Python worker installs the worker's
stat-guarded zip reload (:func:`packaging.install_zip_reload_guard`).
The package's Arrow kernels freeze a reused worker's heap when they
start and its modules have grown (:func:`packaging.freeze_worker_heap`),
so the full collection the worker daemon runs after every task skips
the loaded modules.
"""

__version__ = "0.1.0"

from page_segmentation_spark.config import (  # noqa: F401
    CLS_BOILER,
    CLS_MAIN,
    CLS_MEDIA,
    ExtractSettings,
)

from page_segmentation_spark import packaging as _packaging

_packaging.install_zip_reload_guard()
