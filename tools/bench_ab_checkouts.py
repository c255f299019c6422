"""Interleaved cross-CHECKOUT A/B for the extraction flagship.

VERDICT r4 finding #3: the recorded `extract_synthetic` slipped from
7.39s (r3) to 11.26s (r4), but single-invocation runs on this shared VM
spread 9.1-22.1s — window drift is larger than the suspected
regression, so serial A-then-B measurement cannot attribute it.  This
harness applies the interleaved discipline of
tools/bench_scaling_interleaved.py across CHECKOUTS instead of
parallelism levels: two live JVMs, one importing the package from an
old checkout's tree and one from HEAD, alternating strictly-serial
measured runs over the SAME cached parquet corpus so both sides sample
the same noise windows.  Each adjacent (A, B) pair yields one ratio
sample; the median ratio is the verdict.

Usage:
  python tools/bench_ab_checkouts.py <ref_a> [pages] [cpus] [rounds] [job]

<ref_a> is any git rev (e.g. the round-3 recording commit); a detached
worktree for it is created under /tmp/pss_ab_<sha> on first use and
reused after.  HEAD side imports from the repo itself — commit or be
aware the working tree is what's measured.  job: extract (default) |
fused (checkouts that still have plans/extract_fused.py).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Child kept to imports every round back to r1 has: session + extract.
_CHILD = r"""
import sys, time
repo, cpus, corpus, job = sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4]
sys.path.insert(0, repo)
from page_segmentation_spark.session import get_spark
from page_segmentation_spark.plans.extract import extract
spark = get_spark(app=f"ab-{job}", master=f"local[{cpus}]",
                  shuffle_partitions=4 * cpus)
spark.sparkContext.setLogLevel("ERROR")
pages = spark.read.parquet(corpus)
if job == "fused":
    from page_segmentation_spark.plans.extract_fused import extract_fused
    build = lambda: extract_fused(pages)
else:
    build = lambda: extract(pages)
print(f"READY {pages.count()}", flush=True)
for line in sys.stdin:
    cmd = line.strip()
    if cmd == "RUN":
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        print(f"T {round(time.perf_counter() - t0, 3)}", flush=True)
    elif cmd == "EXIT":
        break
spark.stop()
"""


class Side:
    def __init__(self, name: str, tree: str, cpus: int, corpus: str, job: str):
        self.name = name
        # the worker daemon puts its working directory first on the
        # workers' sys.path: start each side in its own tree
        self.proc = subprocess.Popen(
            [sys.executable, "-u", "-c", _CHILD, tree, str(cpus), corpus, job],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
            cwd=tree,
        )
        self._await("READY")

    def _await(self, prefix: str) -> str:
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError(f"side {self.name} died")
            if line.startswith(prefix):
                return line.strip()

    def run_once(self) -> float:
        self.proc.stdin.write("RUN\n")
        self.proc.stdin.flush()
        return float(self._await("T").split()[1])

    def close(self) -> None:
        try:
            self.proc.stdin.write("EXIT\n")
            self.proc.stdin.flush()
            self.proc.wait(timeout=60)
        except Exception:
            self.proc.kill()


def checkout_tree(ref: str) -> str:
    sha = subprocess.run(
        ["git", "-C", REPO, "rev-parse", "--short", ref],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    tree = f"/tmp/pss_ab_{sha}"
    if not os.path.isdir(tree):
        subprocess.run(
            ["git", "-C", REPO, "worktree", "add", "--detach", tree, sha],
            check=True, capture_output=True,
        )
    return tree


def median(xs):
    return sorted(xs)[len(xs) // 2]


def main() -> None:
    ref_a = sys.argv[1]
    pages_n = int(sys.argv[2]) if len(sys.argv) > 2 else 30_000
    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    rounds = int(sys.argv[4]) if len(sys.argv) > 4 else 7
    job = sys.argv[5] if len(sys.argv) > 5 else "extract"

    tree_a = checkout_tree(ref_a)
    sys.path.insert(0, REPO)
    from bench import corpus_path
    from page_segmentation_spark.session import get_spark

    spark = get_spark(app="ab-gen", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    corpus = corpus_path(spark, pages_n)
    spark.stop()

    a = Side("A", tree_a, cpus, corpus, job)
    b = Side("B", REPO, cpus, corpus, job)
    for _ in range(4):  # JIT warm-up, alternating
        a.run_once()
        b.run_once()
    a_runs, b_runs, ratios = [], [], []
    for _ in range(rounds):
        t_a = a.run_once()
        t_b = b.run_once()
        a_runs.append(t_a)
        b_runs.append(t_b)
        ratios.append(round(t_b / t_a, 3))
    a.close()
    b.close()

    print(json.dumps({
        "protocol": "interleaved-checkout-ab", "job": job,
        "cpus": cpus, "n_pages": pages_n,
        "a": {"ref": ref_a, "tree": tree_a, "sec": median(a_runs),
              "runs": a_runs},
        "b": {"ref": "HEAD(worktree)", "sec": median(b_runs),
              "runs": b_runs},
        "per_window_ratio_b_over_a": ratios,
        "ratio_median": median(ratios),
    }))


if __name__ == "__main__":
    main()
