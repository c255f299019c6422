"""The single-stage extraction plan (plans/extract.py): value identity
with the single-document chain (oracle.extract_document) over the
synthetic, mixed HTML/PDF and hostile corpora for every span former and
architecture, in plain text and markdown; schema and zero-Exchange plan;
post_process name resolution; and the per-node ``classified_nodes``
table."""

import pytest

from page_segmentation_spark import datagen as dg
from page_segmentation_spark.config import ExtractSettings
from page_segmentation_spark.datagen import PAGES_SCHEMA, mixed_pages_df, pages_df
from page_segmentation_spark.oracle import (
    classify_document,
    extract_document,
    extract_document_markdown,
    score_nodes,
)
from page_segmentation_spark.plans.extract import (
    classified_nodes,
    extract,
    extract_markdown,
)


def _rows(df, col="extracted_text"):
    return {
        r["url"]: (r[col], [tuple(s) for s in r["spans"]], r["n_nodes"])
        for r in df.collect()
    }


def _oracle_rows(pages, settings=None, markdown=False):
    out = {}
    for r in pages.select("url", "html").collect():
        html = r["html"] or b""
        if markdown:
            o = extract_document_markdown(html, settings)
            out[r["url"]] = (o["extracted_markdown"], o["spans"], o["n_nodes"])
        else:
            o = extract_document(html, settings)
            out[r["url"]] = (o["extracted_text"], o["spans"], o["n_nodes"])
    return out


def _assert_matches_oracle(pages, settings=None):
    assert _rows(extract(pages, settings)) == _oracle_rows(pages, settings)
    md = extract_markdown(pages, settings)
    assert _rows(md, "extracted_markdown") == _oracle_rows(
        pages, settings, markdown=True
    )


def _hostile(spark):
    rows = [dg.hostile_page(shape, i) for i, shape in enumerate(dg.HOSTILE_SHAPES)]
    return spark.createDataFrame(
        [{k: r[k] for k in ("url", "warc_ts", "html", "text", "lang")}
         for r in rows],
        PAGES_SCHEMA,
    )


@pytest.fixture(scope="module")
def corpus(spark):
    """Mixed HTML/PDF pages plus one page per hostile shape."""
    df = mixed_pages_df(spark, 48, partitions=2).unionByName(
        _hostile(spark)
    ).cache()
    yield df
    df.unpersist()


def test_value_identity_html_corpus(spark):
    pages = pages_df(spark, 120, partitions=4).cache()
    try:
        assert _rows(extract(pages)) == _oracle_rows(pages)
    finally:
        pages.unpersist()


def test_value_identity_mixed_html_pdf(spark):
    mixed = mixed_pages_df(spark, 48).cache()
    try:
        assert _rows(extract(mixed)) == _oracle_rows(mixed)
    finally:
        mixed.unpersist()


def test_value_identity_hostile_shapes(spark):
    pages = _hostile(spark).cache()
    try:
        _assert_matches_oracle(pages)
    finally:
        pages.unpersist()


def test_schema_names_and_types_identical(spark):
    pages = pages_df(spark, 3, partitions=1)
    spans = "spans:array<struct<start:bigint,end:bigint,n_main:bigint>>"
    assert extract(pages).schema.simpleString() == (
        f"struct<url:string,extracted_text:string,{spans},n_nodes:bigint>"
    )
    assert extract_markdown(pages).schema.simpleString() == (
        f"struct<url:string,extracted_markdown:string,{spans},n_nodes:bigint>"
    )


def test_plan_has_zero_exchange(spark):
    pages = pages_df(spark, 3, partitions=1)
    plan = extract(pages)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Sort" not in plan


def test_unknown_span_former_rejected(spark):
    pages = pages_df(spark, 3, partitions=1)
    with pytest.raises(ValueError):
        extract(pages, ExtractSettings(span_former="nope"))


@pytest.mark.parametrize("former", ["default", "xycut", "morphological"])
def test_value_identity_every_span_former(spark, corpus, former):
    _assert_matches_oracle(corpus, ExtractSettings(span_former=former))


def test_architecture_parameter_respected(spark, corpus):
    """Every registered architecture flows through the plan's kernel and
    matches the oracle under the same settings."""
    from page_segmentation_spark.functions.architectures import ARCHITECTURES

    for name in sorted(ARCHITECTURES):
        _assert_matches_oracle(corpus, ExtractSettings(architecture=name))


def test_post_process_aliases_resolve_like_their_stage():
    """Every alias of the CC vote votes; 'none', 'bbox' and the empty
    chain leave the scorer's predictions as they are."""
    vote = ExtractSettings()
    for i in range(300):
        html = dg.make_page(i)["html"]
        want = extract_document(html, vote)["preds"]
        for alias in ("ccvote", "CC-Majority", "votecomponents"):
            s = ExtractSettings(post_process=(alias,))
            assert extract_document(html, s)["preds"] == want, (i, alias)
        raw, _ = score_nodes(classify_document(html)["nodes"])
        for chain in ((), ("none",), ("bbox",)):
            s = ExtractSettings(post_process=chain)
            assert extract_document(html, s)["preds"] == raw, (i, chain)


def test_unknown_post_process_rejected(spark):
    s = ExtractSettings(post_process=("bogus",))
    with pytest.raises(ValueError):
        extract_document(b"<p>x</p>", s)
    pages = pages_df(spark, 3, partitions=1)
    for build in (extract, extract_markdown, classified_nodes):
        with pytest.raises(ValueError):
            build(pages, s)


def test_classified_nodes_match_oracle(spark):
    """One row per parsed node; pred, pred_raw and selected are the
    oracle chain's, and pred_raw is the scorer's class of the row's own
    feature vector."""
    from page_segmentation_spark.functions import scorer_core as sc

    pages = pages_df(spark, 40, partitions=2)
    by_url: dict = {}
    for r in classified_nodes(pages).collect():
        by_url.setdefault(r["url"], []).append(r)
    n_docs = 0
    for i in range(40):
        p = dg.make_page(i)
        want = extract_document(p["html"])
        rows = sorted(by_url.get(p["url"], []), key=lambda r: r["node_idx"])
        assert [r["node_idx"] for r in rows] == list(range(want["n_nodes"]))
        assert [r["pred"] for r in rows] == want["preds"]
        assert [r["pred_raw"] for r in rows] == [
            sc.classify(r["features"]) for r in rows
        ]
        assert [r["node_idx"] for r in rows if r["selected"]] == want[
            "selected"
        ]
        assert all(r["char_med"] == want["char_med"] for r in rows)
        n_docs += bool(rows)
    assert n_docs > 30
