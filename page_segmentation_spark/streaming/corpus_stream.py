"""Continuous training-corpus construction over a live crawl.

The streaming twin of ``plans.training_corpus.build_training_corpus``:
a landing directory of WARC files becomes a continuously-growing,
already-deduplicated training corpus.

    binaryFile stream -> WARC record parse (mapInArrow)
      -> corpus_features (extract + C4 + Gopher + lang/tokens/fp —
         ONE stateless Arrow stage plus projections, zero shuffle)
      -> stateful first-seen dedup keyed by content fingerprint
         (applyInPandasWithState, cross-micro-batch state)

Every stage before the dedup is stateless, so the only streaming state
is one entry per distinct surviving content fingerprint (the same
sizing analysis as ``dedup_stream``: ~50 B/entry in the RocksDB
provider, partitioned by the fingerprint shuffle).  Because filters run
BEFORE the stateful stage, boilerplate-only and low-quality pages never
touch state — at crawl scale the funnel drops most of the stream ahead
of the expensive stage, same as the batch plan.

Dedup semantics: a fingerprint emits exactly once, on the micro-batch
that first sees it, represented by the lexicographic-min url within
that batch (deterministic); later sightings only bump the state
counter, so an append sink stays exactly-once for corpus rows.  This
module keeps permanent state (forever-dedup); for TTL-bounded state see
``dedup_stream.first_seen_stream``'s event-time horizon — the extracted
rows here no longer carry an event-time column (the extraction kernel prunes
to url+html), which is the documented trade for the zero-shuffle shape.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from page_segmentation_spark.plans.training_corpus import (
    corpus_features,
    corpus_features_from_text,
)

CORPUS_OUTPUT_SCHEMA = (
    "url string, lang string, n_tokens long, content_fp string, "
    "clean_text string, dup_in_batch long"
)
CORPUS_STATE_SCHEMA = "n_seen long"


def _first_corpus_fn(
    key: Tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    rows = pd.concat(list(pdfs), ignore_index=True)
    n = len(rows)
    if state.exists:
        (seen,) = state.get
        state.update((seen + n,))
        return
    state.update((n,))
    first = rows.sort_values("url").iloc[[0]].copy()
    first["dup_in_batch"] = n
    yield first[
        ["url", "lang", "n_tokens", "content_fp", "clean_text", "dup_in_batch"]
    ]


def corpus_stream(
    pages: DataFrame,
    c4_opts: dict | None = None,
    gopher_opts: dict | None = None,
) -> DataFrame:
    """(streaming) pages -> first-seen deduplicated corpus rows.

    Feed a ``readStream`` pages DataFrame (url, warc_ts, html, text,
    lang); returns a streaming DataFrame of CORPUS_OUTPUT_SCHEMA rows —
    write with ``outputMode("update")`` (emissions are one-shot, so
    append semantics hold at the sink)."""
    feats = corpus_features(pages, c4_opts, gopher_opts)
    return _first_seen_dedup(feats)


def corpus_stream_from_text(
    docs: DataFrame,
    c4_opts: dict | None = None,
    gopher_opts: dict | None = None,
) -> DataFrame:
    """(streaming) WET-shaped (url, text) -> first-seen deduplicated
    corpus rows: the identical stateless funnel with the extract stage
    skipped (corpus_features_from_text — pure projections, stream-safe)
    feeding the same stateful dedup."""
    return _first_seen_dedup(corpus_features_from_text(
        docs, c4_opts=c4_opts, gopher_opts=gopher_opts
    ))


def _first_seen_dedup(feats: DataFrame) -> DataFrame:
    return feats.groupBy("content_fp").applyInPandasWithState(
        _first_corpus_fn,
        outputStructType=CORPUS_OUTPUT_SCHEMA,
        stateStructType=CORPUS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_training_corpus(
    spark: SparkSession,
    warc_path: str,
    output_path: str,
    checkpoint_path: str,
    c4_opts: dict | None = None,
    gopher_opts: dict | None = None,
    trigger_available_now: bool = True,
    max_files_per_trigger: int = 16,
    wet: bool = False,
):
    """Run the continuous corpus build off a WARC landing directory and
    append surviving first-seen rows to ``output_path`` (parquet).
    ``wet=True`` treats the landing files as WET (extracted text in
    conversion records) and skips the extract stage.

    Each WARC file is consumed exactly once (file-source checkpointing);
    corpus rows emit exactly once per distinct fingerprint (state), so
    the plain append sink accumulates a deduplicated corpus across
    restarts."""
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
    recs = warc_records(files)
    if wet:
        # WET landing dir: conversion records carry extracted text —
        # skip the extract stage, identical downstream funnel
        docs = recs.where(F.col("rec_type") == "conversion").select(
            "url", F.decode(F.col("html"), "UTF-8").alias("text")
        )
        out = corpus_stream_from_text(docs, c4_opts, gopher_opts)
    else:
        pages = recs.select(
            "url",
            "warc_ts",
            "html",
            F.lit(None).cast("string").alias("text"),
            F.lit(None).cast("string").alias("lang"),
        )
        out = corpus_stream(pages, c4_opts, gopher_opts)

    def write_batch(df: DataFrame, _bid: int) -> None:
        df.write.mode("append").parquet(output_path)

    writer = (
        out.writeStream.foreachBatch(write_batch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_corpus(
    spark: SparkSession,
    corpus_path: str,
    compacted_path: str,
    state_path: str,
    neardup_opts: dict | None = None,
) -> dict:
    """Periodic NEAR-duplicate compaction over the accumulated
    streaming corpus sink — the batch completion of the streaming
    funnel (which stops at stateful exact dedup because label
    propagation is iterative and global: a new document can near-dup a
    document streamed months earlier, so candidate search must see the
    whole accumulated corpus).

    Runs :func:`plans.training_corpus.neardup_representatives` — the
    SAME pass, same code object, as ``build_training_corpus
    (neardup=True)`` — over every accumulated row and overwrites
    ``compacted_path`` with the surviving representatives.  A
    high-water mark (input row count) persists at ``state_path``: a
    re-run against an unchanged sink is a recorded no-op, so a cron
    cadence is idempotent and cheap between crawl deliveries.  The
    row-count action and the mark file are job-level control flow
    (plans/checkpoint.py policy), not data movement.

    Returns a summary dict: {skipped, rows_in, rows_kept}."""
    import json
    import os

    corpus = spark.read.parquet(corpus_path)
    rows_in = corpus.count()
    if os.path.exists(state_path):
        with open(state_path) as fh:
            mark = json.load(fh)
        if mark.get("rows_in") == rows_in:
            return {
                "skipped": True,
                "rows_in": rows_in,
                "rows_kept": mark.get("rows_kept"),
            }
    from page_segmentation_spark.plans.training_corpus import (
        neardup_representatives,
    )

    kept = neardup_representatives(
        corpus.select(
            "url", "lang", "n_tokens", "content_fp", "clean_text"
        ),
        neardup_opts,
    )
    kept.write.mode("overwrite").parquet(compacted_path)
    rows_kept = spark.read.parquet(compacted_path).count()
    tmp = state_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"rows_in": rows_in, "rows_kept": rows_kept}, fh)
    os.replace(tmp, state_path)  # atomic mark update
    return {"skipped": False, "rows_in": rows_in, "rows_kept": rows_kept}
