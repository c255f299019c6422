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

    from page_segmentation_spark.functions.text import (
        c4_line_filter,
        fingerprint,
        gopher_quality,
        token_count,
        with_lang_id,
    )
    from page_segmentation_spark.operators import dedup as D
    from page_segmentation_spark.plans.extract import extract
    from page_segmentation_spark.plans.training_corpus import (
        build_training_corpus,
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

    def tail_c4(ext):
        return c4_line_filter(ext, "url", "extracted_text")

    def tail_gopher(ext):
        c4 = tail_c4(ext).where(F.col("page_kept") == 1)
        return gopher_quality(
            c4, "url", "clean_text", extra_cols=("clean_text",)
        )

    def tail_lang(ext):
        g = tail_gopher(ext).where(F.col("keep") == 1).select(
            "url", "clean_text"
        )
        return with_lang_id(g, "clean_text")

    def tail_full(ext):
        g = tail_gopher(ext).where(F.col("keep") == 1).select(
            "url", "clean_text"
        )
        return with_lang_id(g, "clean_text").select(
            "url",
            "lang",
            token_count(F.col("clean_text")).alias("n_tokens"),
            fingerprint(F.col("clean_text")).alias("content_fp"),
            "clean_text",
        )

    # barrier-form funnel tail sub-stages (the shipped r6 shape —
    # tail_* above keeps the r5 pre-barrier form for A/B):
    def ftail_c4(ext):
        from page_segmentation_spark.functions.staging import (
            pushdown_barrier,
        )

        c4 = c4_line_filter(ext, "url", "extracted_text")
        c4 = pushdown_barrier(c4, ["clean_text", "page_kept"])
        return c4.where(F.col("page_kept") == 1)

    def ftail_gopher(ext):
        from page_segmentation_spark.functions.staging import (
            pushdown_barrier,
        )

        g = gopher_quality(
            ftail_c4(ext), "url", "clean_text", extra_cols=("clean_text",)
        )
        g = pushdown_barrier(g, ["keep"])
        return g.where(F.col("keep") == 1).select(
            "url", "clean_text", "n_words"
        )

    def ftail_lang(ext):
        return with_lang_id(ftail_gopher(ext), "clean_text")

    def ftail_full(ext):
        from page_segmentation_spark.plans.training_corpus import (
            _funnel_from_extracted,
        )

        return _funnel_from_extracted(ext)

    def ftail_full_orig(ext):
        # the pre-share wiring (no emit_lines / lines_col / padded_col):
        # gopher re-splits clean_text on '\n' and with_lang_id rebuilds
        # the padded lower — the round-close A/B baseline for the
        # cross-operator staging reuse
        from page_segmentation_spark.functions.staging import (
            pushdown_barrier,
        )
        from page_segmentation_spark.functions.text import fingerprint

        c4 = c4_line_filter(ext, "url", "extracted_text")
        c4 = pushdown_barrier(c4, ["clean_text", "page_kept"])
        g = gopher_quality(
            c4.where(F.col("page_kept") == 1),
            "url",
            "clean_text",
            extra_cols=("clean_text",),
        )
        g = pushdown_barrier(g, ["keep"])
        survivors = g.where(F.col("keep") == 1).select(
            "url", "clean_text", "n_words"
        )
        return with_lang_id(survivors, "clean_text").select(
            "url",
            "lang",
            F.col("n_words").alias("n_tokens"),
            fingerprint(F.col("clean_text")).alias("content_fp"),
            "clean_text",
        )

    def tail_dedup(ext):
        from pyspark.sql import Window

        out = tail_full(ext)
        w = Window.partitionBy("content_fp")
        return (
            out.withColumn("keep_url", F.min("url").over(w))
            .where(F.col("url") == F.col("keep_url"))
            .drop("keep_url")
        )

    def docs():
        return spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))

    JOBS = {
        # extraction + corpus funnel tail over materialized extraction
        "extract": lambda: extract(pages),
        "corpus": lambda: build_training_corpus(pages),
        "tail_c4": lambda: tail_c4(ext_table()),
        "tail_gopher": lambda: tail_gopher(ext_table()),
        "tail_lang": lambda: tail_lang(ext_table()),
        "tail_full": lambda: tail_full(ext_table()),
        "tail_dedup": lambda: tail_dedup(ext_table()),
        "lang_only": lambda: with_lang_id(
            ext_table(), "extracted_text"
        ).select("url", "lang"),
        "ftail_c4": lambda: ftail_c4(ext_table()),
        "ftail_gopher": lambda: ftail_gopher(ext_table()),
        "ftail_lang": lambda: ftail_lang(ext_table()),
        "ftail_full": lambda: ftail_full(ext_table()),
        "ftail_full_orig": lambda: ftail_full_orig(ext_table()),
        # non-flagship bench queries on their own inputs
        "span_scrub": lambda: D.duplicate_span_scrub(
            docs(), "doc_id", "text", k=10
        ),
        "paragraphs": lambda: D.paragraph_dedup(
            docs(), "doc_id", D.word_chunks(F.col("text"), 3), max_dup=1
        ),
        "paragraphs_orig": lambda: _paragraphs_orig(docs()),
        "span_scrub_k50": lambda: D.duplicate_span_scrub(
            docs(), "doc_id", "text", k=50
        ),
        "span_scrub_orig": lambda: _span_scrub_orig(docs(), 10),
        "span_scrub_orig_k50": lambda: _span_scrub_orig(docs(), 50),
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

    def _span_scrub_orig(d, k):
        # round-5 gram stage (per-position md5 of the k-word slice join)
        # grafted onto the current keeper/rebuild tail, for the rolling-
        # hash A/B
        from pyspark.sql import functions as F

        words_arr = F.split(D.normalized(F.col("text")), " ")
        base = d.select(
            F.col("doc_id").alias("id"), words_arr.alias("words")
        ).withColumn("n_words", F.size("words"))
        starts = F.sequence(
            F.lit(0), F.greatest(F.col("n_words") - k, F.lit(-1))
        )
        grams = base.select(
            "id",
            "n_words",
            F.explode(
                F.transform(
                    starts,
                    lambda p: F.struct(
                        p.alias("pos"),
                        F.md5(
                            F.array_join(F.slice("words", p + 1, k), " ")
                        ).alias("gh"),
                    ),
                )
            ).alias("g"),
        ).select(
            "id", F.col("g.pos").alias("pos"), F.col("g.gh").alias("gh")
        )
        keeper = grams.groupBy("gh").agg(
            F.min(F.struct("id", "pos")).alias("keep"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        dup_starts = (
            grams.join(keeper, "gh")
            .where(
                (F.col("n_occ") > 1)
                & ~(
                    (F.col("id") == F.col("keep.id"))
                    & (F.col("pos") == F.col("keep.pos"))
                )
            )
            .select("id", "pos")
        )
        covered = dup_starts.select(
            "id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (k - 1))
            ).alias("wpos"),
        ).distinct()
        positioned = base.select(
            "id", "n_words", F.posexplode("words").alias("wpos", "word")
        )
        survivors = positioned.join(covered, ["id", "wpos"], "left_anti")
        rebuilt = survivors.groupBy("id").agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("wpos", "word"))),
                    lambda x: x.getField("word"),
                ),
                " ",
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_kept"),
        )
        return (
            base.select("id", "n_words")
            .join(rebuilt, "id", "left")
            .select(
                F.col("id").alias("doc_id"),
                F.coalesce(F.col("clean_text"), F.lit("")).alias(
                    "clean_text"
                ),
                F.col("n_words"),
                (
                    F.col("n_words")
                    - F.coalesce(F.col("n_kept"), F.lit(0))
                ).alias("n_scrubbed"),
            )
        )

    def _paragraphs_orig(d):
        # round-5 paragraph_dedup stage 1 (no explicit repartition) for A/B
        ex = d.select(
            F.col("doc_id"),
            F.posexplode(D.word_chunks(F.col("text"), 3)).alias(
                "pos", "para"
            ),
        ).withColumn("para_hash", F.md5(F.col("para")))
        freq = ex.groupBy("para_hash").agg(F.count(F.lit(1)).alias("n_occ"))
        marked = ex.join(freq, "para_hash").withColumn(
            "kept", F.col("n_occ") <= 1
        )
        kept_struct = F.when(F.col("kept"), F.struct("pos", "para"))
        return marked.groupBy("doc_id").agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda x: x.getField("para"),
                ),
                " ",
            ).alias("clean_text"),
            F.count(F.when(F.col("kept"), F.lit(1))).alias("n_kept"),
            F.count(F.when(~F.col("kept"), F.lit(1))).alias("n_removed"),
        )

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
