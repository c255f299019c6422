"""The traced run: each workload's time split by layer.

Layer names are the package's module names.  A layer's self time is a
prefix difference: prefix k is the pipeline up to and including layer
k, built by calling each layer's public function and written to the
noop sink; self(k) = prefix(k) - prefix(k - 1).  Prefixes run in
interleaved rounds and each reports its median.  Layers inside the
fused kernel are timed by calling their single-document functions in
this process over a deterministic sample of the workload's documents.
Spark's status stores give stage, shuffle and SQL-metric splits.

A layer whose public function no longer exists is reported absent
(its metrics read 0 and it is named in the run record); the traced
run does not fail on it.
"""

from __future__ import annotations

import gzip
import importlib
import os
import time
from dataclasses import dataclass
from typing import Callable

from procmon import cpu_split
from sparkstats import SparkChannels, metric_value
from stats import median, tail
from tracing import log
from workloads import noop

PKG = "page_segmentation_spark"

#: the per-layer metrics a traced run prints, in BENCHMARK.json order;
#: the run record also keeps the ones that read 0 on a correct build
#: (``exchange.url.spill_mb``, ``task_retry_share``, ``doc_fail_share``)
PER_LAYER = (
    ("scan.self_s", "s"),
    ("sources.parse.self_s", "s"),
    ("sources.parse.nodes_per_doc", "count"),
    ("sources.parse.arrow_out_mb", "MB"),
    ("functions.features.self_s", "s"),
    ("functions.scorer.self_s", "s"),
    ("operators.vote.self_s", "s"),
    ("operators.spans.self_s", "s"),
    ("plans.extract.self_s", "s"),
    ("plans.extract.concat_self_s", "s"),
    ("exchange.url.shuffle_write_mb", "MB"),
    ("plans.extract_fused.self_s", "s"),
    ("plans.extract_fused.boundary_us_per_doc", "us"),
    ("page_parse.parse_us_p50", "us"),
    ("page_parse.parse_us_tail", "us"),
    ("oracle.score_us_p50", "us"),
    ("oracle.vote_us_p50", "us"),
    ("oracle.cut_us_p50", "us"),
    ("functions.text.tail_self_s", "s"),
    ("functions.text.c4_kept_ratio", "ratio"),
    ("functions.text.gopher_kept_ratio", "ratio"),
    ("plans.training_corpus.dedup_self_s", "s"),
    ("exchange.fp.shuffle_write_mb", "MB"),
    ("plans.training_corpus.partial_collapse_ratio", "ratio"),
    ("plans.training_corpus.survivor_ratio", "ratio"),
    ("sources.warc.self_s", "s"),
    ("sources.warc.records", "count"),
    ("sources.warc.inflated_mb", "MB"),
    ("sources.warc.parse_us_per_record", "us"),
    ("streaming.latest_offset_ms_p50", "ms"),
    ("streaming.query_planning_ms_p50", "ms"),
    ("streaming.add_batch_ms_p50", "ms"),
    ("streaming.commit_ms_p50", "ms"),
    ("streaming.batches", "count"),
    ("sink.parquet_out_mb", "MB"),
    ("stages.run_s", "s"),
    ("stages.cpu_s", "s"),
    ("stages.gc_s", "s"),
    ("stages.task_skew", "ratio"),
    ("python.cpu_s", "s"),
    ("jvm.cpu_s", "s"),
    ("trace.overhead_share", "share"),
    ("trace.self_share", "share"),
)

#: untraced / traced full passes and prefix rounds in a traced run
FULL_REPS = 2
PREFIX_REPS = 2
MB = 1e6


def _resolve(module: str, attr: str):
    try:
        return getattr(importlib.import_module(module), attr)
    except (ImportError, AttributeError):
        return None


@dataclass
class Step:
    """One layer of a prefix chain: ``build(fn, prev)`` makes the prefix
    ending at this layer with the layer's public function ``fn``; it
    extends the previous prefix ``prev`` when ``chained``, else it
    starts from the inputs (an entry point covering the layers before)."""

    layer: str
    module: str | None
    attr: str | None
    build: Callable
    chained: bool = False


def _extract_chain(w, spark) -> list[Step]:
    from page_segmentation_spark.config import ExtractSettings

    s = ExtractSettings()
    pages = w.pages
    find_arch = _resolve(f"{PKG}.functions.architectures", "find_architecture")
    arch = find_arch(s.architecture) if find_arch else None

    def vote(find, prev):
        for name in s.post_process:
            prev = find(name)(prev)
        return prev

    return [
        Step("scan", None, None, lambda fn, prev: pages.select("url", "html")),
        Step("sources.parse", f"{PKG}.sources.parse", "parse_pages",
             lambda fn, prev: fn(pages, max_nodes=s.max_nodes_per_doc,
                                 pdf_password=s.pdf_password)),
        Step("functions.features", f"{PKG}.functions.features", "featurize",
             lambda fn, prev: fn(prev, arch), chained=True),
        Step("functions.scorer", f"{PKG}.functions.scorer", "score",
             lambda fn, prev: fn(prev, arch), chained=True),
        Step("operators.vote", f"{PKG}.operators.vote", "find_postprocessor",
             vote, chained=True),
        Step("operators.spans", f"{PKG}.operators.spans", "SPAN_FORMERS",
             lambda fns, prev: fns[s.span_former](prev, s), chained=True),
        Step("plans.extract", f"{PKG}.plans.extract", "extract",
             lambda fn, prev: fn(pages, s)),
    ]


def _funnel_chain(w, spark) -> list[Step]:
    pages = w.pages
    return [
        Step("scan", None, None, lambda fn, prev: pages.select("url", "html")),
        Step("plans.extract_fused", f"{PKG}.plans.extract_fused",
             "extract_fused", lambda fn, prev: fn(pages)),
        Step("functions.text", f"{PKG}.plans.training_corpus",
             "corpus_features", lambda fn, prev: fn(pages, fused=True)),
        Step("plans.training_corpus", f"{PKG}.plans.training_corpus",
             "build_training_corpus", lambda fn, prev: fn(pages, fused=True)),
    ]


def _warc_chain(w, spark) -> list[Step]:
    src = w.inputs.data_dir
    return [
        Step("scan", None, None,
             lambda fn, prev: spark.read.format("binaryFile").load(src)
             .select("path", "content")),
        Step("sources.warc", f"{PKG}.sources.warc", "read_warc",
             lambda fn, prev: fn(spark, src)),
        Step("plans.extract_fused", f"{PKG}.plans.extract_fused",
             "extract_fused", lambda fn, prev: fn(prev), chained=True),
    ]


CHAINS = {
    "extract_pages": _extract_chain,
    "corpus_funnel": _funnel_chain,
    "warc_stream": _warc_chain,
}


def _build_prefix(steps, k, tracer):
    first = k
    while first > 0 and steps[first].chained:
        first -= 1
    prev = None
    for st in steps[first: k + 1]:
        fn = _resolve(st.module, st.attr) if st.module else None
        with tracer.span(st.layer):
            prev = st.build(fn, prev)
    return prev


def prefix_times(w, spark, tracer, absent: list) -> dict[str, float]:
    """Median build+noop time of each present prefix, layer -> s."""
    steps = []
    for st in CHAINS[w.name](w, spark):
        if st.module and _resolve(st.module, st.attr) is None:
            absent.append({"layer": st.layer, "reason": f"{st.module}.{st.attr} missing"})
            continue
        steps.append(st)
    # a layer that no longer composes with the one before it is absent
    present = []
    for st in steps:
        try:
            _build_prefix(present + [st], len(present), tracer)
        except Exception as e:  # noqa: BLE001 - any build failure = absent
            absent.append({"layer": st.layer, "reason": repr(e)[:300]})
            continue
        present.append(st)
    runs: dict[str, list[float]] = {st.layer: [] for st in present}
    for r in range(PREFIX_REPS):
        for k, st in enumerate(present):
            with tracer.span(f"prefix:{st.layer}", round=r):
                t0 = time.perf_counter()
                noop(_build_prefix(present, k, tracer))
                runs[st.layer].append(time.perf_counter() - t0)
    return {layer: median(v) for layer, v in runs.items()}


def self_times(prefix: dict[str, float]) -> dict[str, float]:
    out, prev = {}, 0.0
    for layer, t in prefix.items():  # chain order
        out[layer] = t - prev
        prev = t
    return out


def _stage_summary(chans: SparkChannels, stages: list[dict]) -> dict:
    done = [s for s in stages if s["status"] == "COMPLETE"]
    skew = 0.0
    if done:
        longest = max(done, key=lambda s: s["wall_ms"])
        tasks = chans.task_run_ms(longest)
        if tasks and median(tasks) > 0:
            skew = max(tasks) / median(tasks)
    return {
        "run_s": sum(s["run_ms"] for s in stages) / 1e3,
        "cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
        "shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in stages) / MB,
        "spill_mb": sum(s["disk_spilled_bytes"] for s in stages) / MB,
        "task_skew": skew,
    }


def kernel_timings(inputs, tracer) -> dict:
    """Per-document µs of the single-document functions the fused
    kernel calls, over a deterministic sample, timed in this process
    (the second of two rounds, so caches are warm)."""
    from inputs import sample_docs
    from page_segmentation_spark.config import ExtractSettings

    s = ExtractSettings()
    parse_page = _resolve(f"{PKG}.page_parse", "parse_page")
    score_nodes = _resolve(f"{PKG}.oracle", "score_nodes")
    vote = _resolve(f"{PKG}.oracle", "cc_majority_vote")
    cutters = _resolve(f"{PKG}.oracle", "SPAN_CUTTERS")
    find_arch = _resolve(f"{PKG}.functions.architectures", "find_architecture")
    if None in (parse_page, score_nodes, vote, cutters, find_arch):
        return {}
    arch = find_arch(s.architecture)
    cut = cutters[s.span_former]
    sample = sample_docs(inputs)
    times = {"parse": [], "score": [], "vote": [], "cut": []}
    for rnd in range(2):
        for k in times:
            times[k].clear()
        with tracer.span("kernel_sample", round=rnd, docs=len(sample)):
            for _url, html in sample:
                t0 = time.perf_counter()
                nodes = parse_page(html, max_nodes=s.max_nodes_per_doc,
                                   pdf_password=s.pdf_password)
                t1 = time.perf_counter()
                preds, med = score_nodes(nodes, arch)
                t2 = time.perf_counter()
                if "cc_majority" in s.post_process:
                    preds = vote(nodes, preds)
                t3 = time.perf_counter()
                cut(nodes, preds, s, med)
                t4 = time.perf_counter()
                for name, a, b in (("parse", t0, t1), ("score", t1, t2),
                                   ("vote", t2, t3), ("cut", t3, t4)):
                    times[name].append((b - a) * 1e6)
                    if rnd:
                        tracer.record(f"oracle.{name}", a, b)
    parse_tail, parse_p = tail(times["parse"])
    return {
        "page_parse.parse_us_p50": median(times["parse"]),
        "page_parse.parse_us_tail": parse_tail,
        "oracle.score_us_p50": median(times["score"]),
        "oracle.vote_us_p50": median(times["vote"]),
        "oracle.cut_us_p50": median(times["cut"]),
        "_parse_tail_percentile": parse_p,
        "_kernel_mean_us": sum(sum(v) for v in times.values()) / len(sample),
        "_sample_docs": len(sample),
    }


def warc_decode_stats(inputs) -> dict:
    """Records, inflated size and per-record parse time of
    ``parse_warc_bytes`` over the landing files, in this process."""
    parse = _resolve(f"{PKG}.sources.warc", "parse_warc_bytes")
    if parse is None:
        return {}
    records, inflated, secs = 0, 0, 0.0
    for name in sorted(os.listdir(inputs.data_dir)):
        with open(os.path.join(inputs.data_dir, name), "rb") as f:
            data = f.read()
        inflated += len(gzip.decompress(data))
        t0 = time.perf_counter()
        records += sum(1 for _ in parse(data, warc_file=name))
        secs += time.perf_counter() - t0
    return {
        "sources.warc.records": records,
        "sources.warc.inflated_mb": inflated / MB,
        "sources.warc.parse_us_per_record": secs * 1e6 / max(records, 1),
    }


def _funnel_plan_ratios(nodes: list[dict], docs: int) -> dict:
    """Gate pass rates and dedup collapse from the funnel's SQL plan
    metrics (rows out of each node)."""

    def rows(pred):
        for n in nodes:
            if pred(n) and "number of output rows" in n["metrics"]:
                return metric_value(n["metrics"]["number of output rows"])
        return None

    extracted = rows(lambda n: n["name"] == "MapInArrow")
    c4 = rows(lambda n: n["name"] == "Filter" and "page_kept" in n["desc"])
    gopher = rows(lambda n: n["name"] == "Filter" and "page_kept" not in n["desc"]
                  and "keep#" in n["desc"])
    partial = rows(lambda n: "Aggregate" in n["name"] and "partial_" in n["desc"])
    final = rows(lambda n: "Aggregate" in n["name"] and "partial_" not in n["desc"])
    out = {}
    if extracted and c4 is not None:
        out["functions.text.c4_kept_ratio"] = c4 / extracted
    if c4 and gopher is not None:
        out["functions.text.gopher_kept_ratio"] = gopher / c4
    if gopher and partial is not None:
        out["plans.training_corpus.partial_collapse_ratio"] = partial / gopher
    if final is not None:
        out["plans.training_corpus.survivor_ratio"] = final / docs
    return out


def _parse_plan_stats(nodes: list[dict], docs: int) -> dict:
    for n in nodes:
        if n["name"] == "MapInArrow" and "parse_batches" in n["desc"]:
            m = n["metrics"]
            out = {}
            if "number of output rows" in m:
                out["sources.parse.nodes_per_doc"] = (
                    metric_value(m["number of output rows"]) / docs
                )
            if "data returned from Python workers" in m:
                out["sources.parse.arrow_out_mb"] = (
                    metric_value(m["data returned from Python workers"]) / MB
                )
            return out
    return {}


def traced_run(w, spark, tracer, nproc: int, record: dict, crawl=None) -> dict:
    """Every per-layer metric this workload exercises, by name; with a
    registered ``WarcStream`` as ``crawl``, the crawl-ingest layers too."""
    chans = SparkChannels(spark)
    m: dict[str, float] = {}
    absent: list = []
    record["absent_layers"] = absent

    # untraced and traced full passes, alternating
    untraced, traced, stage_sums, cpus, progress, plan = [], [], [], [], [], []
    for i in range(FULL_REPS):
        s0, c0 = chans.last_stage_id(), cpu_split()
        p = w.run_pass(spark, rebuild=True)
        cpus.append(cpu_split() - c0)
        stage_sums.append(_stage_summary(chans, chans.stages_after(s0)))
        untraced.append(p.wall_s)
        progress += p.progress
        if i == FULL_REPS - 1 and w.name != "warc_stream":
            plan = chans.plan_nodes(chans.last_execution_id())
        with tracer.span("full_pass", traced=True, rep=i):
            traced.append(w.run_pass(spark, tracer, rebuild=True).wall_s)
    full = median(untraced)
    m["trace.overhead_share"] = median(traced) / full - 1.0
    record["untraced_full_s"] = untraced
    record["traced_full_s"] = traced
    log("traced: full passes")

    for key in ("run_s", "cpu_s", "gc_s", "task_skew"):
        m[f"stages.{key}"] = median([s[key] for s in stage_sums])
    m["python.cpu_s"] = median([c.python_workers for c in cpus])
    m["jvm.cpu_s"] = median([c.jvm for c in cpus])

    prefix = prefix_times(w, spark, tracer, absent)
    log("traced: prefixes")
    selfs = self_times(prefix)
    record["prefix_s"] = prefix
    record["self_s"] = selfs
    m["trace.self_share"] = sum(selfs.values()) / full
    docs = w.inputs.n_docs
    layer_metric = {
        "scan": "scan.self_s",
        "sources.parse": "sources.parse.self_s",
        "functions.features": "functions.features.self_s",
        "functions.scorer": "functions.scorer.self_s",
        "operators.vote": "operators.vote.self_s",
        "operators.spans": "operators.spans.self_s",
        "plans.extract": "plans.extract.concat_self_s",
        "plans.extract_fused": "plans.extract_fused.self_s",
        "functions.text": "functions.text.tail_self_s",
        "plans.training_corpus": "plans.training_corpus.dedup_self_s",
        "sources.warc": "sources.warc.self_s",
    }
    for layer, t in selfs.items():
        m[layer_metric[layer]] = t
    if "plans.extract" in prefix and "scan" in prefix:
        # the whole declarative plan above the scan
        m["plans.extract.self_s"] = prefix["plans.extract"] - prefix["scan"]

    kern = kernel_timings(w.inputs, tracer)
    log("traced: kernel sample")
    record["kernel"] = {k: kern.pop(k) for k in list(kern) if k.startswith("_")}
    m.update(kern)
    if "plans.extract_fused" in selfs and "_kernel_mean_us" in record["kernel"]:
        per_core_us = selfs["plans.extract_fused"] * nproc / docs * 1e6
        m["plans.extract_fused.boundary_us_per_doc"] = (
            per_core_us - record["kernel"]["_kernel_mean_us"]
        )

    if w.name == "extract_pages":
        m["exchange.url.shuffle_write_mb"] = median(
            [s["shuffle_write_mb"] for s in stage_sums])
        m["exchange.url.spill_mb"] = median([s["spill_mb"] for s in stage_sums])
        m.update(_parse_plan_stats(plan, docs))
    elif w.name == "corpus_funnel":
        m["exchange.fp.shuffle_write_mb"] = median(
            [s["shuffle_write_mb"] for s in stage_sums])
        m.update(_funnel_plan_ratios(plan, docs))
    else:
        m.update(stream_layers(w, progress, FULL_REPS))
    if crawl is not None:
        m.update(crawl_ingest_layers(crawl, spark, tracer, absent, record))
    return m


def stream_layers(ws, progress: list, drains: int) -> dict:
    """WARC decode, micro-batch phase and sink metrics of a
    ``WarcStream`` from the ``durationMs`` of its untraced drains."""
    m = warc_decode_stats(ws.inputs)
    for metric, keys in (
        ("streaming.latest_offset_ms_p50", ("latestOffset",)),
        ("streaming.query_planning_ms_p50", ("queryPlanning",)),
        ("streaming.add_batch_ms_p50", ("addBatch",)),
        ("streaming.commit_ms_p50", ("walCommit", "commitOffsets")),
    ):
        vals = [sum(d.get(k, 0) for k in keys) for d in progress]
        if vals:
            m[metric] = median(vals)
    m["streaming.batches"] = len(progress) / drains
    m["sink.parquet_out_mb"] = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(ws.last_out)
        for f in fs if f.endswith(".parquet")
    ) / MB
    return m


def crawl_ingest_layers(ws, spark, tracer, absent: list, record: dict) -> dict:
    """The WARC and streaming layers, measured on a registered and
    already drained (checked) ``WarcStream`` over the same seed's pages:
    untraced drains and the scan -> read_warc -> extract_fused prefixes."""
    progress = []
    for _ in range(FULL_REPS):
        progress += ws.run_pass(spark).progress
    log("traced: crawl drains")
    prefix = prefix_times(ws, spark, tracer, absent)
    log("traced: crawl prefixes")
    record["crawl_prefix_s"] = prefix
    m = stream_layers(ws, progress, FULL_REPS)
    selfs = self_times(prefix)
    if "sources.warc" in selfs:
        m["sources.warc.self_s"] = selfs["sources.warc"]
    return m
