"""Python worker CPU per task of a trivial kernel: the fixed cost every
Spark Python task pays before any kernel work.

Each pass runs 16 tasks on local[4]: first of a plain ``mapInArrow``
that passes its batches through without importing the package, then of
a ``per_document`` kernel that does nothing but import it.  After two
warm-up passes it prints, per kernel, the Python worker CPU per task
(daemon and workers, read from ``/proc`` with ``perfbench/procmon.py``)
and the wall time of each of five passes.  It runs from the ``--tree`` checkout's
root, because the worker daemon puts its working directory first on the
workers' ``sys.path``.  Compare two checkouts:

    python tools/task_overhead.py
    python tools/task_overhead.py --tree ../parent

Usage: python tools/task_overhead.py [--tree PATH] [--passes N]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TASKS = 16
WARMUP = 2


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
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
