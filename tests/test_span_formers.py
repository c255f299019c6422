"""XY-cut (W3) and morphological (P16) span-former tests: the XY-cut
Spark operator on hand frames, the extraction chain's span cutters
(oracle.SPAN_CUTTERS) on hand node lists, and frozen spans over random
block layouts."""

import hashlib
import os
import sys

from pyspark.sql import functions as F

from page_segmentation_spark.config import ExtractSettings
from page_segmentation_spark.operators.spans import xycut_spans
from page_segmentation_spark.oracle import (
    SPAN_CUTTERS,
    classify_document,
    cut_spans_morphological,
)


def _df(spark, preds, char_med=50.0):
    rows = [("u", i, "p", True, int(p)) for i, p in enumerate(preds)]
    return (
        spark.createDataFrame(
            rows, "url string, node_idx long, tag string, is_fg boolean, pred int"
        )
        .withColumn("char_med", F.lit(char_med))
        .withColumn("n_nodes", F.lit(len(preds)).cast("long"))
        .withColumn("n_chars", F.lit(10).cast("long"))
        .withColumn("n_link_chars", F.lit(0).cast("long"))
        .withColumn("container", F.lit(""))
    )


def _spans(out):
    return {
        (r["span_start"], r["span_end"], r["span_main"])
        for r in out.where("in_kept_span").collect()
    }


def test_xycut_cuts_only_large_gaps(spark):
    # ind: 1 1 0 1 1 0 0 1 1 — split_size 2 (char_med>=40): only the
    # 2-gap cuts; the 1-gap is swallowed by its segment
    # (lib/xycut.py:166); trailing segment has len 2 > px_threshold 1
    out = xycut_spans(
        _df(spark, [1, 1, 0, 1, 1, 0, 0, 1, 1]), ExtractSettings()
    )
    assert _spans(out) == {(0, 4, 4), (7, 8, 2)}


def test_xycut_border_gaps_are_cut_points(spark):
    # leading 2-gap >= split_size survives as a gap; segment starts after
    out = xycut_spans(_df(spark, [0, 0, 1, 1, 0, 0, 0]), ExtractSettings())
    assert _spans(out) == {(2, 3, 2)}


def test_xycut_px_threshold_drops_short_segments(spark):
    # single-node segment has seg_len 1, not > px_threshold 1 -> dropped
    out = xycut_spans(
        _df(spark, [1, 0, 0, 1, 1]), ExtractSettings(min_main_nodes=1)
    )
    assert _spans(out) == {(3, 4, 2)}


def test_xycut_all_background(spark):
    out = xycut_spans(_df(spark, [0, 0, 0]), ExtractSettings())
    assert _spans(out) == set()


def _nodes(n):
    return [{"node_idx": i, "tag": "p", "is_fg": True} for i in range(n)]


def _morph(preds):
    return cut_spans_morphological(
        _nodes(len(preds)), preds, ExtractSettings(), 50.0
    )


def test_morphological_close_bridges_and_open_denoises():
    # close(2) bridges the interior 2-gap: 1 1 0 0 1 -> one span
    assert _morph([1, 1, 0, 0, 1]) == [(0, 4, 3)]


def test_morphological_isolated_speck_removed():
    # a single 1 surrounded by long zeros: close keeps it, open(1) removes
    assert _morph([0, 0, 0, 0, 1, 0, 0, 0, 0]) == []


def test_formers_share_output_contract():
    """Every cutter returns ordered, disjoint (start, end, n_main) spans
    inside the document, each holding at least one main node."""
    preds = [1, 1, 0, 1, 0, 0, 0, 1, 1, 1, 0, 1]
    nodes = _nodes(len(preds))
    for name, cut in SPAN_CUTTERS.items():
        spans = cut(nodes, preds, ExtractSettings(), 50.0)
        assert spans, name
        prev_end = -1
        for (s, e, n_main) in spans:
            assert prev_end < s <= e < len(preds), (name, spans)
            assert 1 <= n_main == sum(preds[s:e + 1]), (name, spans)
            prev_end = e


def test_extract_with_alternate_formers(spark):
    from page_segmentation_spark.datagen import pages_df
    from page_segmentation_spark.plans.extract import extract

    pages = pages_df(spark, 12, partitions=2)
    for former in ("xycut", "morphological"):
        rows = extract(pages, ExtractSettings(span_former=former)).collect()
        assert len(rows) == 12
        assert any(r["extracted_text"] for r in rows), former


#: (span_former, post_process) -> (number of spans, sha256[:16] of the
#: per-page span lists) of classify_document over
#: tools/identity_check.layout_soup(0..199)
SOUP_SPANS = {
    ("default", "cc_majority"): (313, "cdc2c6bdd0b242fa"),
    ("default", "none"): (324, "58ad10999030b936"),
    ("morphological", "cc_majority"): (230, "b906ab9ef120e933"),
    ("morphological", "none"): (227, "03323a39e9f03486"),
    ("xycut", "cc_majority"): (414, "e4f425a52959f611"),
    ("xycut", "none"): (421, "60b1116cc580958b"),
}


def test_layout_soup_spans_frozen():
    """Datagen pages almost always yield one contiguous article span;
    these random layouts have interior gaps and tied vote runs, so a
    change to the gap merge or the vote's tie-break shows here."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tools"))
    from identity_check import layout_soup

    pages = [layout_soup(i) for i in range(200)]
    got = {}
    for former in sorted(SPAN_CUTTERS):
        for post in ("cc_majority", "none"):
            s = ExtractSettings(span_former=former, post_process=(post,))
            spans = [classify_document(p, s)["spans"] for p in pages]
            digest = hashlib.sha256(repr(spans).encode()).hexdigest()[:16]
            got[(former, post)] = (sum(map(len, spans)), digest)
    assert got == SOUP_SPANS
