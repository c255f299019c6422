"""The three workloads, run through the package's public entry points.

Each workload registers its generated inputs with a session, runs one
pass (the unit the timed loop repeats), and produces the rows the
correctness gate compares with the references.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from reference import FUNNEL_COLS, count_failures

#: WARC files a micro-batch takes (fixed, so batches are the same size
#: on every box)
MAX_FILES_PER_TRIGGER = 4


@dataclass
class Pass:
    docs: int
    wall_s: float
    #: per commit unit: the whole pass for a batch job, each
    #: micro-batch's ``triggerExecution`` for a stream
    batches_s: list = field(default_factory=list)
    #: ``durationMs`` of each micro-batch (streams only)
    progress: list = field(default_factory=list)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _span(tracer, name):
    from tracing import null_span

    return tracer.span(name) if tracer is not None else null_span()


class _BatchWorkload:
    """A workload whose pass is one batch query written to the noop
    sink.  Registering the inputs also builds (analyzes) the query, as
    a job does once; a pass executes it, which re-optimizes and plans
    it.  ``rebuild=True`` builds it again inside the pass."""

    name = ""

    def register(self, spark, inputs, scratch: str) -> None:
        self.inputs = inputs
        self.pages = spark.read.parquet(inputs.data_dir)
        self.df = self.build()

    def build(self, tracer=None):
        raise NotImplementedError

    def run_pass(self, spark, tracer=None, rebuild=False) -> Pass:
        t0 = time.perf_counter()
        df = self.build(tracer) if rebuild else self.df
        with _span(tracer, "action:noop"):
            noop(df)
        wall = time.perf_counter() - t0
        return Pass(self.inputs.n_docs, wall, [wall])


class ExtractPages(_BatchWorkload):
    name = "extract_pages"

    def build(self, tracer=None):
        from page_segmentation_spark.plans.extract import extract

        with _span(tracer, "plans.extract"):
            return extract(self.pages)

    def check(self, spark, scratch: str) -> tuple[int, int, list]:
        rows = self.df.select("url", "extracted_text", "n_nodes").collect()
        failed, examples = count_failures(self.inputs.refs, [tuple(r) for r in rows])
        return len(self.inputs.refs), failed, examples


class CorpusFunnel(_BatchWorkload):
    name = "corpus_funnel"

    def build(self, tracer=None):
        from page_segmentation_spark.plans.training_corpus import (
            build_training_corpus,
        )

        with _span(tracer, "plans.training_corpus"):
            return build_training_corpus(self.pages, fused=True)

    def check(self, spark, scratch: str) -> tuple[int, int, list]:
        rows = self.df.select(*FUNNEL_COLS).collect()
        failed, examples = count_failures(
            self.inputs.funnel_ref, [tuple(r) for r in rows]
        )
        return len(self.inputs.refs), failed, examples


class WarcStream:
    """``stream_extract_warc(plan="fused")`` draining the landing
    directory with ``availableNow``: a closed loop, each micro-batch
    starts after the previous one commits."""

    name = "warc_stream"

    def register(self, spark, inputs, scratch: str) -> None:
        self.inputs = inputs
        self.sink_root = os.path.join(scratch, "sink")
        shutil.rmtree(self.sink_root, ignore_errors=True)
        os.makedirs(self.sink_root)
        self._drains = 0
        self.last_out = None

    def run_pass(self, spark, tracer=None, rebuild=False) -> Pass:
        from page_segmentation_spark.streaming.extract_stream import (
            stream_extract_warc,
        )
        from sparkstats import progress_durations

        self._drains += 1
        out = os.path.join(self.sink_root, f"out-{self._drains}")
        ckpt = os.path.join(self.sink_root, f"ckpt-{self._drains}")
        t0 = time.perf_counter()
        with _span(tracer, "streaming.extract_stream"):
            query = stream_extract_warc(
                spark,
                self.inputs.data_dir,
                out,
                ckpt,
                trigger_available_now=True,
                max_files_per_trigger=MAX_FILES_PER_TRIGGER,
                plan="fused",
            )
        with _span(tracer, "action:drain"):
            query.awaitTermination()
        wall = time.perf_counter() - t0
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        progress = progress_durations(query)
        # keep the newest sink for the check and its size; drop the rest
        if self.last_out is not None:
            shutil.rmtree(self.last_out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        self.last_out = out
        return Pass(
            self.inputs.n_docs,
            wall,
            [d["triggerExecution"] / 1000.0 for d in progress],
            progress,
        )

    def check(self, spark, scratch: str) -> tuple[int, int, list]:
        self.run_pass(spark)
        rows = (
            spark.read.parquet(self.last_out)
            .select("url", "extracted_text", "n_nodes")
            .collect()
        )
        failed, examples = count_failures(self.inputs.refs, [tuple(r) for r in rows])
        return len(self.inputs.refs), failed, examples


WORKLOADS = {w.name: w for w in (ExtractPages, CorpusFunnel, WarcStream)}
