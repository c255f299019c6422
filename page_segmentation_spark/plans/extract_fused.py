"""Former name of the extraction plan, kept while the benchmark in
``perfbench/`` still calls it: :func:`plans.extract.extract` is now the
single-stage fused plan itself."""

from page_segmentation_spark.plans.extract import extract as extract_fused  # noqa: F401
