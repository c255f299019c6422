"""Per-stage noop-sink isolation bench (optimization-round diagnostics).

NOT part of the driver contract — bench.py stays frozen; this tool
exists so each operator in the headline suite can be timed alone
(guide §1.4: noop sink; §1.5: labelled jobs) and before/after numbers
for OPTIMIZATION_r06.md come from an isolated, repeatable measurement.

Diagnostic-only shortcuts that would be ILLEGAL in bench.py are fine
here (e.g. materializing the extraction output once to time the funnel
tail without re-paying extraction): nothing here feeds the driver's
numbers.

Usage:
    python tools/bench_extra.py <job>[,job...] [--runs N] [--pages N]
    python tools/bench_extra.py list
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
CACHE_ROOT = os.environ.get("SPARK_GRAFT_BENCH_CACHE", "/tmp/pss_bench_cache")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    from pyspark.sql import functions as F

    import bench  # repo-root bench.py: corpus builders, driver heap default
    from page_segmentation_spark.session import get_spark

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    flags = {a.split("=")[0]: a.split("=", 1)[1] if "=" in a else "1"
             for a in sys.argv[1:] if a.startswith("--")}
    runs = int(flags.get("--runs", "3"))
    n_pages = int(flags.get("--pages", str(max(1000, int(30000)))))

    spark = get_spark(
        app="pss-bench-extra", master=f"local[{CPUS}]",
        shuffle_partitions=4 * CPUS,
    )
    spark.sparkContext.setLogLevel("ERROR")

    corpus = bench.corpus_path(spark, n_pages)
    pages = spark.read.parquet(corpus)

    from page_segmentation_spark.operators import dedup as D
    from page_segmentation_spark.plans.extract import extract
    from page_segmentation_spark.plans.training_corpus import (
        build_training_corpus,
        corpus_features_from_text,
    )

    from page_segmentation_spark.queries import QUERIES as QUERIES_local

    # one-time materialized extraction output: lets the funnel TAIL be
    # timed without re-paying extraction (diagnostic only)
    ext_path = os.path.join(CACHE_ROOT, f"ext_n{n_pages}_seed42")

    def ext_table():
        if not os.path.exists(os.path.join(ext_path, "_SUCCESS")):
            extract(pages).select(
                "url", F.col("extracted_text")
            ).repartition(CPUS * 4).write.mode("overwrite").parquet(ext_path)
        return spark.read.parquet(ext_path)

    def tail_full(ext):
        return corpus_features_from_text(ext, "extracted_text")

    def tail_dedup(ext):
        return build_training_corpus(
            ext.withColumnRenamed("extracted_text", "text"), from_text=True
        )

    def docs():
        return spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))

    JOBS = {
        # extraction + corpus funnel tail over materialized extraction
        "extract": lambda: extract(pages),
        "corpus": lambda: build_training_corpus(pages),
        "tail_full": lambda: tail_full(ext_table()),
        "tail_dedup": lambda: tail_dedup(ext_table()),
        # non-flagship bench queries on their own inputs
        "span_scrub": lambda: D.duplicate_span_scrub(
            docs(), "doc_id", "text", k=10
        ),
        "paragraphs": lambda: D.paragraph_dedup(
            docs(), "doc_id", D.word_chunks(F.col("text"), 3), max_dup=1
        ),
        "span_scrub_k50": lambda: D.duplicate_span_scrub(
            docs(), "doc_id", "text", k=50
        ),
        "a2_vote": lambda: QUERIES_local["a2_vote"](spark, SF_DIR),
        "w1_islands": lambda: QUERIES_local["w1_islands"](spark, SF_DIR),
        "sim_cosine_topk": lambda: QUERIES_local["sim_cosine_topk"](
            spark, SF_DIR
        ),
        "minhash_lsh": lambda: D.minhash_lsh_pairs(
            docs().where(F.col("doc_id") < 60), "doc_id", "text",
            n=3, n_perms=8, band_size=1,
        ),
    }

    if not args or args[0] == "list":
        print("jobs:", ", ".join(sorted(JOBS)))
        return

    names = []
    for a in args:
        names.extend(a.split(","))
    out = {}
    for name in names:
        build = JOBS[name]
        spark.sparkContext.setJobDescription(f"bench_extra: {name} warmup")
        noop(build())  # warm-up
        samples = []
        for i in range(runs):
            spark.sparkContext.setJobDescription(f"bench_extra: {name} #{i}")
            t0 = time.perf_counter()
            noop(build())
            samples.append(round(time.perf_counter() - t0, 3))
        out[name] = {"median": sorted(samples)[len(samples) // 2],
                     "runs": samples}
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"pages": n_pages, "results": out}))
    spark.stop()


if __name__ == "__main__":
    main()
