"""Golden end-to-end tests (SURVEY.md §5.1/§5.3): the Spark pipeline must
produce byte-identical extracted_text + equal spans vs the single-node
oracle, under any partitioning, with the designed physical plan."""

import pytest

from page_segmentation_spark.datagen import make_page, pages_df
from page_segmentation_spark.oracle import extract_document
from page_segmentation_spark.plans.extract import extract

N_DOCS = 51  # covers all 17 edge-case kinds three times


def _oracle_results(n):
    out = {}
    for i in range(n):
        p = make_page(i)
        r = extract_document(p["html"])
        out[p["url"]] = r
    return out


@pytest.fixture(scope="module")
def golden():
    return _oracle_results(N_DOCS)


def _check(spark_rows, golden):
    assert len(spark_rows) == len(golden)
    for row in spark_rows:
        o = golden[row["url"]]
        assert row["extracted_text"] == o["extracted_text"], row["url"]
        got = [(s["start"], s["end"], s["n_main"]) for s in row["spans"]]
        assert got == o["spans"], row["url"]
        assert row["n_nodes"] == o["n_nodes"], row["url"]


def test_byte_identical_vs_oracle(spark, golden):
    pages = pages_df(spark, N_DOCS, partitions=4)
    _check(extract(pages).collect(), golden)


@pytest.mark.parametrize("parts", [1, 7])
def test_partitioning_invariance(spark, golden, parts):
    """Repartition(k) must not change any output byte (W7 determinism,
    reference ordered-imap lib/dataset.py:196)."""
    pages = pages_df(spark, N_DOCS, partitions=3).repartition(parts)
    _check(extract(pages).collect(), golden)


def test_physical_plan_zero_exchange_no_python_rows(spark):
    """Scale audit: no shuffle at all; Python only via Arrow
    (MapInArrow), never BatchEvalPython (SURVEY §7 hard parts)."""
    pages = pages_df(spark, 8, partitions=2)
    plan = extract(pages)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BatchEvalPython") == 0
    assert "Exchange" not in plan, plan


def test_byte_identical_with_non_default_settings(spark):
    """Non-default ExtractSettings must stay byte-identical: the plan's
    kernel reads the same settings object as the oracle (regression for
    the silent divergence where the oracle derived min_main while Spark
    read the setting)."""
    from page_segmentation_spark.config import ExtractSettings

    settings = ExtractSettings(min_main_nodes=5)
    golden2 = {}
    for i in range(N_DOCS):
        p = make_page(i)
        golden2[p["url"]] = extract_document(p["html"], settings)
    pages = pages_df(spark, N_DOCS, partitions=4)
    _check(extract(pages, settings).collect(), golden2)
    # the setting must actually bite: some doc loses a span vs default
    defaults = _oracle_results(N_DOCS)
    assert any(
        len(golden2[u]["spans"]) < len(defaults[u]["spans"])
        for u in golden2
    )


def test_empty_and_no_main_docs_present(spark):
    pages = pages_df(spark, 2, partitions=1)  # doc 0: empty, doc 1: no main
    rows = {r["url"]: r for r in extract(pages).collect()}
    assert len(rows) == 2
    for r in rows.values():
        assert r["extracted_text"] == ""


def test_extract_markdown_value_identity_and_plan(spark):
    """Markdown extraction: byte-identical to the oracle twin over the
    synthetic corpus (shared MD_PREFIXES map), heading prefixes present,
    same zero-Exchange plan as the flagship."""
    from page_segmentation_spark.datagen import make_page, pages_df
    from page_segmentation_spark.oracle import extract_document_markdown
    from page_segmentation_spark.plans.extract import extract_markdown

    df = extract_markdown(pages_df(spark, 40, partitions=3))
    by_url = {r["url"]: r["extracted_markdown"] for r in df.collect()}
    hits = 0
    for i in range(40):
        p = make_page(i)
        want = extract_document_markdown(p["html"])["extracted_markdown"]
        assert by_url[p["url"]] == want, p["url"]
        hits += want.startswith("# ") or "\n# " in want or "\n## " in want
    assert hits > 10  # heading prefixes actually exercised
    # plan audit on a FRESH (un-executed) frame: the AQE final plan of
    # the collected one re-prints exchanged stages per QueryStage
    fresh = extract_markdown(pages_df(spark, 40, partitions=3))
    plan = fresh._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
