"""Structured-Streaming front-end for the extraction pipeline.

The reference is strictly batch (its only "stream" is a pull generator,
reference lib/predictor.py:27-30).  The graft adds an incremental mode
for continuously-landing crawl data:

  * :func:`stream_extract` — ``readStream`` over a pages directory ->
    ``foreachBatch(extract)`` -> idempotent per-batch sink.  Extraction
    is stateless across documents (one kernel call per page), so
    micro-batch semantics are exact: each page is extracted once,
    byte-identically to the batch pipeline.  The sink writes each
    micro-batch to its own ``batch_id=N`` subdirectory with overwrite —
    a batch retried after a partial write replaces its own output
    instead of appending duplicates, upgrading foreachBatch's native
    at-least-once to exactly-once sink contents (complementing the
    batch-side bucket checkpoint protocol in plans/checkpoint.py).
    Readers see ``batch_id`` as a discovered partition column.
  * :func:`crawl_stats_stream` — event-time windowed counts over
    ``warc_ts`` with a watermark for late crawl records (the
    operational metrics side-channel).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from page_segmentation_spark.config import ExtractSettings
from page_segmentation_spark.plans.extract import extract
from page_segmentation_spark.sources.pages_schema import PAGES_DDL


def _start_extract_sink(
    pages: DataFrame, output_path: str, checkpoint_path: str,
    settings: ExtractSettings | None, trigger_available_now: bool,
):
    """The sink both extraction streams share: ``foreachBatch(extract)``
    writing each micro-batch to its own ``batch_id=N`` directory, with
    the checkpoint, append mode and (optionally) the availableNow
    trigger.  Returns the started StreamingQuery."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # idempotent: overwrite THIS batch's directory so a post-crash
        # retry replaces its partial output rather than duplicating it
        extract(batch_df, settings).write.mode("overwrite").parquet(
            f"{output_path}/batch_id={batch_id}"
        )

    writer = (
        pages.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_extract(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    settings: ExtractSettings | None = None,
    trigger_available_now: bool = True,
):
    """Incrementally extract newly-landed page files.  Returns the
    StreamingQuery (caller awaits termination)."""
    pages = (
        spark.readStream.schema(PAGES_DDL)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_path)
    )
    return _start_extract_sink(
        pages, output_path, checkpoint_path, settings, trigger_available_now
    )


def stream_extract_warc(
    spark: SparkSession,
    warc_path: str,
    output_path: str,
    checkpoint_path: str,
    settings: ExtractSettings | None = None,
    trigger_available_now: bool = True,
    max_files_per_trigger: int = 16,
    plan: str = "declarative",
):
    """Incremental extraction straight off a landing directory of WARC
    files (the continuously-running crawl-consumer shape): streaming
    binaryFile source -> WARC record parse (mapInArrow, no shuffle) ->
    ``foreachBatch(extract)`` -> append sink.

    Each WARC file is consumed exactly once (file-source checkpointing)
    and each micro-batch writes to its own ``batch_id=N`` subdirectory
    with overwrite (idempotent retry — exactly-once sink contents, see
    :func:`stream_extract`); per-record gzip members are parsed inside
    the batch, so output is byte-identical to running
    :func:`..sources.warc.read_warc` + ``extract`` over the same files.
    ``max_files_per_trigger`` bounds a micro-batch to ~16 crawl files
    (~16 GB at Common-Crawl sizing) — tune to cluster memory.

    ``plan`` ("declarative" or "fused") named the two extraction plans
    there used to be; both now run the one :func:`extract`, and the
    keyword stays accepted for callers that still pass it.
    """
    if plan not in ("declarative", "fused"):
        raise ValueError(f"plan must be 'declarative' or 'fused', got {plan!r}")
    from page_segmentation_spark.sources.warc import (
        BINARY_FILE_DDL,
        warc_records,
    )

    files = (
        spark.readStream.format("binaryFile")
        .schema(BINARY_FILE_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(warc_path)
    )
    pages = warc_records(files).select(
        "url",
        "warc_ts",
        "html",
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )

    return _start_extract_sink(
        pages, output_path, checkpoint_path, settings, trigger_available_now
    )


def crawl_stats_stream(
    spark: SparkSession,
    input_path: str,
    watermark: str = "1 hour",
    window: str = "1 hour",
) -> DataFrame:
    """Event-time crawl-rate aggregation with late-data handling:
    (window, lang) -> page count + byte volume."""
    pages = spark.readStream.schema(PAGES_DDL).parquet(input_path)
    return (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window), F.col("lang"))
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum(F.length("html")).alias("html_bytes"),
        )
    )
