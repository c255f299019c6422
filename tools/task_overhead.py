"""Python worker CPU per task of a trivial kernel: the fixed cost every
Spark Python task pays before any kernel work.

Each pass runs 16 tasks on local[4]: first of a plain ``mapInArrow``
that passes its batches through without importing the package, then of
a ``per_document`` kernel that does nothing but import it.  After two
warm-up passes it prints, per kernel, the Python worker CPU per task
(daemon and workers, read from ``/proc`` with ``perfbench/procmon.py``)
and the wall time of each of five passes.

The plain kernel pays on every task what the package takes away from
its own kernels: ``zipimporter``'s unguarded re-read of each archive
directory (``packaging.install_zip_reload_guard``), and the full
``gc.collect()`` that the worker daemon runs after each task, over every
object the worker holds (``packaging.freeze_worker_heap``).  For the
package kernel the tool also runs a probe kernel over the same workers
and prints, per task, the worker's frozen and tracked object counts
(``gc.get_freeze_count()``, ``len(gc.get_objects())``) and the
seconds its full collections took, timed in the worker through
``gc.callbacks``.

It runs from the ``--tree`` checkout's root, because the worker daemon
puts its working directory first on the workers' ``sys.path``.  Compare
two checkouts:

    python tools/task_overhead.py
    python tools/task_overhead.py --tree ../parent

Usage: python tools/task_overhead.py [--tree PATH] [--passes N]
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TASKS = 16
WARMUP = 2


def gc_probe(_):
    """This worker's ``(frozen, tracked, full collections, their
    seconds)``; the last two count since the previous call in the same
    worker, and the first call installs the timing callback."""
    import gc

    for timer in gc.callbacks:
        if hasattr(timer, "full"):
            break
    else:
        def timer(phase, info):
            if info["generation"] == 2:
                if phase == "start":
                    timer.t0 = time.perf_counter()
                else:
                    timer.full[0] += 1
                    timer.full[1] += time.perf_counter() - timer.t0

        timer.full = [0, 0.0]
        gc.callbacks.append(timer)
    n, secs = timer.full
    timer.full = [0, 0.0]
    return gc.get_freeze_count(), len(gc.get_objects()), n, secs


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--tree", default=ROOT,
                    help="checkout whose page_segmentation_spark is imported")
    ap.add_argument("--passes", type=int, default=5)
    args = ap.parse_args()
    os.chdir(args.tree)
    sys.path.insert(0, os.getcwd())
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))

    import page_segmentation_spark as pss
    from page_segmentation_spark.functions.text import per_document
    from page_segmentation_spark.session import get_spark
    from procmon import cpu_split

    print(f"package: {os.path.dirname(pss.__file__)}", file=sys.stderr)
    spark = get_spark(app="task-overhead", master="local[4]",
                      shuffle_partitions=4,
                      extra={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.range(0, 100 * TASKS, numPartitions=TASKS)
    kernels = {
        "plain": df.mapInArrow(lambda batches: batches, df.schema),
        # the lambda names the package, so unpickling it on the worker
        # imports the package
        "package": per_document(df, ["id"], "id",
                                lambda v: (v + len(pss.__version__),),
                                "n long"),
    }
    try:
        for name, out in kernels.items():
            per_task, walls = [], []
            for i in range(WARMUP + args.passes):
                c0, t0 = cpu_split(), time.perf_counter()
                assert out.count() == 100 * TASKS
                wall, cpu = time.perf_counter() - t0, cpu_split() - c0
                if i >= WARMUP:
                    per_task.append(cpu.python_workers / TASKS)
                    walls.append(wall)
            print(f"{name}: python_cpu_s_per_task "
                  + " ".join(f"{c:.3f}" for c in per_task)
                  + " | pass_wall_s " + " ".join(f"{w:.2f}" for w in walls))
        # one row per task; the first pass only installs the timers, so
        # each later task reads the collections since its worker's
        # previous task
        probe = per_document(
            spark.range(0, TASKS, numPartitions=TASKS), ["id"], "id",
            gc_probe, "frozen long, tracked long, full_gcs long, gc_s double",
        )
        probe.collect()
        rows = [r for _ in range(args.passes) for r in probe.collect()]
        n = sum(r["full_gcs"] for r in rows)
        secs = sum(r["gc_s"] for r in rows)
        print("package worker gc: frozen "
              f"{statistics.median(r['frozen'] for r in rows):.0f} "
              f"tracked {statistics.median(r['tracked'] for r in rows):.0f} "
              f"(medians over {len(rows)} tasks) | full collections "
              f"{n / len(rows):.2f} per task, "
              f"{1e3 * secs / max(n, 1):.2f} ms each")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
