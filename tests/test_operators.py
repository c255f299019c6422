"""Operator unit tests on tiny hand-written inputs (FIXTURES.md §7):
Spark operators over small frames, and the extraction chain's vote and
span stages (oracle) over small node lists."""

from page_segmentation_spark.config import ExtractSettings
from page_segmentation_spark.operators.islands import with_islands
from page_segmentation_spark.oracle import (
    cc_majority_vote,
    cut_spans,
    selected_nodes,
)


def _nodes(tags_fg):
    """tags_fg: (tag, is_fg) per node, in document order."""
    return [
        {"node_idx": i, "tag": t, "is_fg": fg, "container": "",
         "n_chars": 10, "n_link_chars": 0}
        for i, (t, fg) in enumerate(tags_fg)
    ]


def test_islands_basic(spark):
    df = spark.createDataFrame(
        [("u", i, v) for i, v in enumerate([1, 1, 0, 0, 1, 0])],
        "url string, node_idx long, v int",
    )
    out = (
        with_islands(df, ["v"]).orderBy("node_idx").select("island_id").collect()
    )
    assert [r[0] for r in out] == [1, 1, 2, 2, 3, 4]


def test_cc_majority_tie_and_breaks():
    nodes = _nodes(
        [("li", True), ("li", True), ("p", True), ("img", False),
         ("p", True), ("p", True), ("p", True)]
    )
    # li-run tie {0,1} -> 0; node 2 and nodes 4-6 are separate p-runs
    # (the non-fg img breaks them); non-fg keeps raw; p-run majority 1
    assert cc_majority_vote(nodes, [0, 1, 1, 2, 0, 1, 1]) == [
        0, 0, 1, 2, 1, 1, 1
    ]


def test_spans_merge_and_trim():
    nodes = _nodes([("p", True)] * 9)
    preds = [0, 1, 1, 0, 1, 0, 0, 0, 2]
    spans = cut_spans(
        nodes, preds, ExtractSettings(dilate_radius=0), char_med=50.0
    )
    # gap at 3 (len1 < split 2) merges 1-2 with 4; gap 5-7 (len 3) cuts
    assert spans == [(1, 4, 3)]
    # the bridged non-main node 3 is emitted (not link text, no
    # boilerplate container)
    assert selected_nodes(nodes, preds, spans) == [1, 2, 3, 4]


def test_spans_dilation_bridges():
    nodes = _nodes([("p", True)] * 5)
    spans = cut_spans(
        nodes, [1, 0, 0, 0, 1], ExtractSettings(dilate_radius=1),
        char_med=50.0,
    )
    # dilation radius 1: gap 1-3 becomes just {2}, len 1 < 2 -> merged
    assert spans == [(0, 4, 2)]


def test_semantic_dedup_keeps_lowest_id_per_neighborhood(spark):
    """SemDeDup shape: cluster by nearest anchor centroid, then keep=0
    exactly for rows with a cosine>=threshold neighbor of LOWER id in
    the SAME cluster.  Two tight clusters along orthogonal axes: ids
    {0,2,4} hug +x, ids {1,3} hug +y — orthogonal across clusters, so
    dedup never crosses them."""
    from page_segmentation_spark.operators.similarity import semantic_dedup

    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),
        (2, [1.0, 0.05, 0.0]),
        (3, [0.0, 1.0, 0.05]),
        (4, [1.0, 0.0, 0.05]),
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs],
        "vec_id long, embedding array<float>",
    )
    out = {
        r["vec_id"]: (r["list_id"], r["keep"])
        for r in semantic_dedup(df, n_centroids=2, threshold=0.9).collect()
    }
    assert out == {
        0: (0, 1),  # cluster anchor, lowest id -> kept
        1: (1, 1),
        2: (0, 0),  # cos(0,2) ~ 0.9988 >= 0.9 -> dup of 0
        3: (1, 0),
        4: (0, 0),
    }


def test_semantic_dedup_below_threshold_keeps_all(spark):
    from page_segmentation_spark.operators.similarity import semantic_dedup

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.7, 0.7])],
        "vec_id long, embedding array<float>",
    )
    out = semantic_dedup(df, n_centroids=2, threshold=0.999)
    assert [r["keep"] for r in out.orderBy("vec_id").collect()] == [1, 1, 1]


def test_semantic_dedup_salted_matches_unsalted_on_hot_cluster(spark):
    """Degenerate-quantizer guard: with every vector clumped near one
    axis (ALL rows land in one cluster — the skew case that
    re-quadratizes the pair join on one task), max_cluster_size must
    (a) reproduce the unsalted output exactly and (b) key the pair join
    on (list, salt) so the hot cluster spans multiple reduce keys."""
    from page_segmentation_spark.operators.similarity import semantic_dedup

    rows = [
        (i, [1.0, 0.001 * (i % 7), 0.0005 * (i % 3)]) for i in range(60)
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    base = {
        (r["vec_id"], r["list_id"], r["keep"])
        for r in semantic_dedup(df, n_centroids=2, threshold=0.9).collect()
    }
    salted_df = semantic_dedup(
        df, n_centroids=2, threshold=0.9, max_cluster_size=10
    )
    salted = {
        (r["vec_id"], r["list_id"], r["keep"])
        for r in salted_df.collect()
    }
    assert salted == base
    plan = salted_df._jdf.queryExecution().executedPlan().toString()
    assert "asalt" in plan and "bsalt" in plan, plan
    assert "CartesianProduct" not in plan, plan
