"""The repository benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload extract_pages --seed 1 \\
        --seconds 12 --trace 0

Runs from the root of a source tree (the directory that holds
``page_segmentation_spark``).  It generates the workload's inputs from
the seed (cached), starts a Spark session sized to this box
(``local[nproc]``, heap from ``MemTotal``), sets the session up
several times, checks one untimed pass against independent references,
warms up, and then repeats timed passes for ``--seconds``
(``BENCHMARK.json`` fixes the value).
``--trace 1`` replaces the timed loop with the traced per-layer run
(layers.py); on ``corpus_funnel`` it also drains a WARC rendering of
the seed's pages, which measures the crawl-ingest layers.  The last
line of standard output is the result object; the line before it is
the run record, also written under ``.perfbench/runs``.  Everything the run writes
stays under ``.perfbench`` in the source tree.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

from tracing import log

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

#: session set-ups per run (the first also launches the JVM); setup_s
#: is their median
SETUP_REPS = 8
#: untimed passes after the correctness pass, before timing (the
#: JVM's JIT keeps shortening the first few); the traced run, which
#: alternates untraced and traced passes, makes one
WARMUP_PASSES = 3
#: timed passes made even when --seconds runs out first
MIN_PASSES = 3
#: generated classes Spark keeps compiled (its default is 100)
CODEGEN_CACHE_ENTRIES = 1000
#: the run aborts (no result, non-zero exit) past this many seconds
DEADLINE_S = 170

END_TO_END = (
    ("docs_per_s", "1/s"),
    ("cpu_ms_per_doc", "ms"),
    ("peak_rss_mb", "MB"),
    ("setup_s", "s"),
)


def _on_alarm(signum, frame):
    """Past the deadline: stop every process this run started, wait
    until each has ended and exit without a result.  (An exception
    raised here would be swallowed by a py4j call in progress.)"""
    from procmon import kill_descendants

    print(f"perfbench: run exceeded {DEADLINE_S}s", file=sys.stderr, flush=True)
    kill_descendants()
    os._exit(3)


def box() -> dict:
    """This machine's size and the session sizing derived from it."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    # an eighth of physical memory for the single local-mode JVM
    # (1-8 GiB): the inputs are small
    heap_mb = max(1024, min(8192, mem_kb // 8 // 1024))
    return {"nproc": nproc, "mem_total_mb": mem_kb // 1024, "heap_mb": heap_mb}


def git_commit() -> str | None:
    """HEAD of the source tree, read from ``.git`` without leaving it;
    None outside a git checkout."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_path = os.path.join(git, ref)
        if os.path.exists(ref_path):
            with open(ref_path) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        return None
    return None


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def confine_to_tree(heap_mb: int) -> dict:
    """Point every temporary and working directory of Python, the JVM
    and Spark at ``.perfbench``; returns the extra Spark confs."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPYCACHEPREFIX"] = os.path.join(WORK, "pycache")
    sys.pycache_prefix = os.environ["PYTHONPYCACHEPREFIX"]
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap_mb}m",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # Spark's default of 100 generated classes is smaller than what
        # extract_pages cycles through: every pass then recompiles ~29
        # classes with Janino and the JIT never settles (pass times swing
        # by a third from run to run); sized so passes reuse them
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
    }


def start_session(b: dict, confs: dict):
    from page_segmentation_spark.session import get_spark

    os.environ["SPARK_DRIVER_MEM"] = f"{b['heap_mb']}m"
    spark = get_spark(
        app="perfbench",
        master=f"local[{b['nproc']}]",
        shuffle_partitions=b["nproc"],
        extra=confs,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session and the JVM behind it, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - killed below either way
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def task_attempts(spark) -> tuple[int, int]:
    """(all, failed) task attempts of every stage this session ran."""
    from sparkstats import SparkChannels

    stages = SparkChannels(spark).stages_after(-1)
    failed = sum(s["tasks_failed"] for s in stages)
    return failed + sum(s["tasks_ok"] + s["tasks_killed"] for s in stages), failed


def timed_loop(w, spark, seconds: float, record: dict) -> dict:
    """Repeat passes for ``seconds`` (at least MIN_PASSES); medians."""
    from procmon import cpu_split
    from stats import median, tail

    passes = []
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or len(passes) < MIN_PASSES:
        c0 = cpu_split()
        p = w.run_pass(spark)
        passes.append((p, cpu_split() - c0))
    batches = [b for p, _ in passes for b in p.batches_s]
    tail_s, tail_p = tail(batches)
    record["passes"] = [
        {"docs": p.docs, "wall_s": p.wall_s, "cpu_s": c.total, "jvm_cpu_s": c.jvm,
         "python_cpu_s": c.python_workers, "batches": len(p.batches_s)}
        for p, c in passes
    ]
    # commit-unit latency: the micro-batches of a stream, else the passes
    record["batches"] = len(batches)
    record["batch_p50_s"] = median(batches)
    record["batch_tail_s"] = tail_s
    record["batch_tail_percentile"] = tail_p
    return {
        "docs_per_s": median([p.docs / p.wall_s for p, _ in passes]),
        "cpu_ms_per_doc": median([c.total * 1e3 / p.docs for p, c in passes]),
    }


def run(args, b: dict, record: dict) -> tuple[dict, int, int]:
    """(metrics, attempted, failed) of one run."""
    from inputs import load_or_build
    from procmon import RssSampler, await_end, process_tree
    from stats import median
    from workloads import WORKLOADS

    confs = confine_to_tree(b["heap_mb"])

    def workload(name: str):
        inputs = load_or_build(
            WORK, name, args.seed, b["nproc"], os.environ["TMPDIR"]
        )
        scratch = os.path.join(WORK, "run", name)
        os.makedirs(scratch, exist_ok=True)
        return WORKLOADS[name](), inputs, scratch

    w, inputs, scratch = workload(args.workload)
    record["input"] = inputs.meta
    # the traced funnel run also measures crawl ingest (sources.warc,
    # streaming) on a WARC rendering of the same seed's pages
    crawl = None
    if args.trace and args.workload == "corpus_funnel":
        crawl, crawl_inputs, crawl_scratch = workload("warc_stream")
        record["crawl_input"] = crawl_inputs.meta
    log("inputs ready")

    rss = RssSampler()
    rss.start()
    setups = []
    spark = None
    try:
        for i in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session(b, confs)
            w.register(spark, inputs, scratch)
            setups.append(time.perf_counter() - t0)
        record["setup_runs_s"] = setups
        log(f"set up {SETUP_REPS} times")

        t0 = time.perf_counter()
        attempted, failed, examples = w.check(spark, scratch)
        if crawl is not None:
            crawl.register(spark, crawl_inputs, crawl_scratch)
            a, f, ex = crawl.check(spark, crawl_scratch)
            attempted, failed, examples = attempted + a, failed + f, examples + ex
        record["check_s"] = time.perf_counter() - t0
        record["check_failed_examples"] = examples
        log(f"checked: {failed} of {attempted} documents differ")
        for _ in range(1 if args.trace else WARMUP_PASSES):
            w.run_pass(spark)
        log("warmed up")

        if args.trace:
            from layers import PER_LAYER, traced_run
            from tracing import Tracer

            run_id = f"{args.workload}-s{args.seed}-{int(time.time())}"
            tracer = Tracer(run_id)
            metrics = traced_run(w, spark, tracer, b["nproc"], record, crawl)
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tracer.write(os.path.join(WORK, "traces", run_id + ".json"))
            names = [n for n, _ in PER_LAYER]
        else:
            metrics = timed_loop(w, spark, args.seconds, record)
            names = [n for n, _ in END_TO_END]
        attempts, failed_tasks = task_attempts(spark)
    finally:
        started = [p for p in process_tree() if p.pid != os.getpid()]
        if spark is not None:
            stop_jvm(spark)
        rss.stop()
        await_end(started)

    # run health: both read 0 on a correct build, so they are kept in
    # the record rather than as bounded metrics
    record["task_attempts"] = attempts
    record["task_failed"] = failed_tasks
    record["task_retry_share"] = failed_tasks / max(attempts, 1)
    record["doc_fail_share"] = failed / max(attempted, 1)
    metrics["setup_s"] = median(setups)
    metrics["peak_rss_mb"] = rss.peak_bytes / 1e6
    record["metrics"] = metrics
    record["not_measured"] = [n for n in names if n not in metrics]
    return {n: float(metrics.get(n, 0.0)) for n in names}, attempted, failed


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("extract_pages", "corpus_funnel", "warc_stream"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="timed window; BENCHMARK.json's run_seconds")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "page_segmentation_spark")):
        print(f"perfbench: no page_segmentation_spark package in {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    b = box()
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        **b,
        "git_commit": git_commit(),
        "loadavg_start": loadavg(),
    }
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    try:
        metrics, attempted, failed = run(args, b, record)
    finally:
        signal.alarm(0)
    record["loadavg_end"] = loadavg()
    units = dict(END_TO_END)
    if args.trace:
        from layers import PER_LAYER

        units = dict(PER_LAYER)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }
    record["result"] = result
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json"
    with open(os.path.join(WORK, "runs", name), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record, separators=(",", ":")))
    print(json.dumps(result))
    if failed:
        print(f"perfbench: {failed} of {attempted} documents differ from the "
              f"reference, e.g. {record['check_failed_examples']}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
