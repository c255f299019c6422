"""Engine configuration and label constants.

The reference drives prediction through ``PredictSettings``
(reference lib/predictor_data.py:18-26: network path, output dir,
post_process chain, n_classes).  Our analog is :class:`ExtractSettings`.

Class ids mirror the reference's text_nontext collapse
(reference lib/pagexml.py:95-129): 0 = background/boilerplate,
1 = text/main content, 2 = image/media.
"""

from __future__ import annotations

from dataclasses import dataclass, field

CLS_BOILER = 0
CLS_MAIN = 1
CLS_MEDIA = 2
N_CLASSES = 3

#: Hard cap on emitted nodes per document — the analog of the reference's
#: ``max_width`` clamp on oversized pages (reference lib/dataset.py:139-143).
#: One url must fit one task for the CC/vote/span stages; this bounds it.
MAX_NODES_PER_DOC = 50_000

#: Heading block tags — used by the trailing-heading span trim (a heading
#: announces FOLLOWING content; one sitting at the very end of a span has
#: its body outside the span, i.e. it belongs to the next/boilerplate
#: section).  Read by oracle.cut_spans and the scorer's heading feature.
HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})

#: Target of the per-document normalization (analog of
#: ``target_line_height``, reference lib/dataset.py:131-137): node lengths
#: are normalized by the per-doc median foreground block length (A12).
DEFAULT_TARGET_BLOCK_CHARS = 80


@dataclass(frozen=True)
class ExtractSettings:
    """Job settings for the extraction pipeline (PredictSettings analog).

    ``post_process`` is an ordered list of named stages resolved through
    :data:`page_segmentation_spark.oracle.POSTPROCESSORS` (the analog of
    the reference postprocessor registry, reference
    lib/postprocess.py:45-64); an unknown name raises ValueError.
    """

    #: minimum number of *originally main* nodes a span must contain to be
    #: kept — ``px_threshold`` analog (reference lib/xycut.py:148,170).
    #: The gap width (``split_size`` analog, reference lib/xycut.py:166)
    #: is NOT a setting: it derives from char_med via
    #: :func:`derive_thresholds`.
    min_main_nodes: int = 1
    #: dilation radius in nodes (reference lib/pc_segmentation.py:63-67 is
    #: a 3x3 kernel == radius 1).
    dilate_radius: int = 1
    #: ordered post-processor chain (reference lib/predictor.py:38-40).
    post_process: tuple = ("cc_majority",)
    #: span former: 'default' (dilate+merge+trim), 'xycut' (W3), or
    #: 'morphological' (P16) — the find_segments/get_text_contours choice
    #: (reference lib/pc_segmentation.py:24-116).
    span_former: str = "default"
    #: named scorer architecture ('base', 'wide_context', ...) resolved
    #: through functions/architectures.ARCHITECTURES — the analog of the
    #: reference's architecture enum (reference lib/architecture.py:5-64).
    architecture: str = "base"
    #: separator used when concatenating node texts.
    separator: str = "\n\n"
    n_classes: int = N_CLASSES
    max_nodes_per_doc: int = MAX_NODES_PER_DOC
    #: user password for encrypted PDFs (empty = the owner-locked crawl
    #: shape; a wrong password degrades to visible ops, never garbles).
    pdf_password: str = ""


def derive_thresholds(char_med: float) -> tuple[int, int]:
    """W4 analog: derive (split_size, min_main_nodes) from the per-doc
    normalization statistic (reference lib/pc_segmentation.py:37-42 derives
    px thresholds and split sizes from char_height).

    Integer-only arithmetic so the Spark and oracle sides cannot drift.
    Documents with long typical blocks (articles) cut on smaller gaps.
    """
    split_size = 2 if char_med >= 40.0 else 3
    min_main_nodes = 1
    return split_size, min_main_nodes
