"""Skew-handling and trainer tests."""

from pyspark.sql import functions as F

from page_segmentation_spark.operators.skew import (
    salted_repartition,
    skew_report,
    two_phase_agg,
    with_salt,
)


def _skewed(spark):
    rows = [("hot", i) for i in range(900)] + [
        (f"k{i}", i) for i in range(100)
    ]
    return spark.createDataFrame(rows, "key string, v long")


def test_salt_deterministic_and_bounded(spark):
    df = _skewed(spark)
    a = with_salt(df, 8).orderBy("key", "v").collect()
    b = with_salt(df.repartition(5), 8).orderBy("key", "v").collect()
    assert a == b  # salting is a pure function of the row
    assert all(0 <= r["salt"] < 8 for r in a)
    assert len({r["salt"] for r in a if r["key"] == "hot"}) > 1


def test_salted_repartition_preserves_rows(spark):
    df = _skewed(spark)
    out = salted_repartition(df, "key", 8)
    assert out.count() == df.count()
    assert sorted(out.columns) == sorted(df.columns)


def test_two_phase_agg_equals_direct(spark):
    df = _skewed(spark)
    direct = {
        r["key"]: (r["sum_v"], r["min_v"], r["max_v"], r["n_rows"])
        for r in df.groupBy("key").agg(
            F.sum("v").alias("sum_v"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
            F.count(F.lit(1)).alias("n_rows"),
        ).collect()
    }
    salted = {
        r["key"]: (r["sum_v"], r["min_v"], r["max_v"], r["n_rows"])
        for r in two_phase_agg(
            df,
            ["key"],
            lambda: [
                F.sum("v").alias("sum_v"),
                F.min("v").alias("min_v"),
                F.max("v").alias("max_v"),
                F.count(F.lit(1)).alias("n_rows"),
            ],
        ).collect()
    }
    assert direct == salted  # salting on/off equivalence (SURVEY §5.3)


def test_skew_report(spark):
    r = skew_report(_skewed(spark), "key").first()
    assert r["n_keys"] == 101
    assert r["max_rows"] == 900 and r["median_rows"] == 1.0
    assert r["skew_ratio"] == 900.0


def test_extraction_invariant_under_salted_input(spark):
    """Salting/repartitioning the input must not change a single byte of
    extraction output (SURVEY §5.3 property)."""
    from page_segmentation_spark.datagen import pages_df
    from page_segmentation_spark.plans.extract import extract

    pages = pages_df(spark, 17, partitions=2).cache()
    base = {r["url"]: r["extracted_text"] for r in extract(pages).collect()}
    salted = salted_repartition(pages, "url", 8)
    out = {r["url"]: r["extracted_text"] for r in extract(salted).collect()}
    assert base == out


def test_train_scorer_learns_and_exports(spark):
    from page_segmentation_spark.datagen import pages_df
    from page_segmentation_spark.functions import scorer_core as sc
    from page_segmentation_spark.plans.extract import classified_nodes
    from page_segmentation_spark.plans.train import (
        evaluate,
        label_baseline,
        train_scorer,
    )

    nodes = classified_nodes(pages_df(spark, 30, partitions=2))
    # learn to reproduce the shipped scorer's own labels (sanity target)
    labeled = nodes.withColumn("gt_label", F.col("pred")).cache()
    base = {r[0]: r["pct"] for r in label_baseline(labeled).collect()}
    assert abs(sum(base.values()) - 1.0) < 1e-9

    weights, biases = train_scorer(labeled, max_iter=40)
    assert set(weights) == {0, 1, 2}
    assert all(len(w) == sc.N_FEATURES for w in weights.values())

    ev = evaluate(labeled, pred_col="pred", label_col="gt_label").first()
    assert ev["accuracy"] == 1.0  # self-consistency of the eval path


def test_train_then_ship_byte_identity(spark):
    """The full train-then-ship loop: fit on labels, register the trained
    weights as their own architecture, and the Spark pipeline must STILL
    be byte-identical to the oracle under that architecture — the one
    chain holds for ANY weights.  Shipping registers a new Arch; no
    shipped architecture's weights or bias move while it is in use."""
    import copy

    from page_segmentation_spark.config import ExtractSettings
    from page_segmentation_spark.datagen import make_page, pages_df
    from page_segmentation_spark.functions.architectures import (
        ARCHITECTURES,
        Arch,
        register_architecture,
    )
    from page_segmentation_spark.oracle import extract_document
    from page_segmentation_spark.plans.extract import classified_nodes, extract
    from page_segmentation_spark.plans.train import train_scorer

    shipped = {
        name: copy.deepcopy((a.weights, a.bias))
        for name, a in ARCHITECTURES.items()
    }
    pages = pages_df(spark, 20, partitions=2).cache()
    labeled = classified_nodes(pages).withColumn("gt_label", F.col("pred"))
    weights, biases = train_scorer(labeled, max_iter=25)

    register_architecture(Arch("_test_trained", weights, biases))
    try:
        settings = ExtractSettings(architecture="_test_trained")
        got = {
            r["url"]: r["extracted_text"]
            for r in extract(pages, settings).collect()
        }
        want = {}
        for i in range(20):
            p = make_page(i)
            want[p["url"]] = extract_document(p["html"], settings)[
                "extracted_text"
            ]
        # checked while the trained head is live, not after
        assert {
            name: (a.weights, a.bias)
            for name, a in ARCHITECTURES.items()
            if name != "_test_trained"
        } == shipped
    finally:
        ARCHITECTURES.pop("_test_trained")
    assert got == want
