"""Named scorer architectures (reference lib/architecture.py:5-64 enum
analog): registry dispatch, per-architecture byte-identity, a frozen
golden for the non-default architecture, and the one-Exchange plan
invariant under architecture swap."""

import hashlib
import json
import os

import pytest

from page_segmentation_spark.config import ExtractSettings
from page_segmentation_spark.datagen import make_page, make_pdf_page, mixed_pages_df
from page_segmentation_spark.functions.architectures import (
    ARCHITECTURES,
    Arch,
    find_architecture,
    register_architecture,
)
from page_segmentation_spark.functions import scorer_core as sc
from page_segmentation_spark.oracle import extract_document
from page_segmentation_spark.plans.extract import extract

WIDE = ExtractSettings(architecture="wide_context")


def test_registry_lookup_and_unknown():
    assert find_architecture("base").local_radius == sc.LOCAL_RADIUS
    assert find_architecture("wide_context").section_radius == 12
    with pytest.raises(KeyError, match="unknown architecture"):
        find_architecture("nope")


def test_register_custom_architecture():
    arch = Arch(name="_test_tmp", weights=sc.WEIGHTS, bias=sc.BIAS,
                local_radius=1)
    register_architecture(arch)
    try:
        assert find_architecture("_test_tmp").local_radius == 1
    finally:
        ARCHITECTURES.pop("_test_tmp")


def _sandwich_page() -> bytes:
    """A page where the wider section window changes a prediction: a
    short straggler paragraph 9 tiny nodes after a link block — inside
    the wide ±12 window's smoothing reach, outside the base ±8."""
    links = "".join(
        f'<li><a href="/p/{i}">related link item number {i} here</a></li>'
        for i in range(5)
    )
    paras = "".join(f"<p>{'word ' * 5}end.</p>" for _ in range(3))
    filler = "".join(f"<p>tiny{j}</p>" for j in range(9))
    return (
        f"<html><body><article>{paras}</article><ul>{links}</ul>{filler}"
        f"<p>{'straggler content sentence with several words here ' * 4}</p>"
        "</body></html>"
    ).encode()


def test_architectures_genuinely_differ():
    h = _sandwich_page()
    a = extract_document(h)["extracted_text"]
    b = extract_document(h, WIDE)["extracted_text"]
    assert a != b


def test_registry_has_all_named_architectures():
    assert set(ARCHITECTURES) == {
        "base", "wide_context", "local_fine", "precision", "recall",
        "long_doc", "trained_v1",
    }  # 7 named architectures, matching the reference enum's count
    assert find_architecture("local_fine").section_radius == 4
    assert find_architecture("precision").bias[1] == -1.2
    assert find_architecture("recall").bias[1] == 0.4
    assert find_architecture("long_doc").chars_norm_cap == 5.0
    assert find_architecture("trained_v1").weights[1][0] != sc.WEIGHTS[1][0]


def test_local_fine_differs_on_adversarial_layout():
    """±4 section smoothing reacts differently at the link-block border
    than base ±8 (same head, narrower pyramid)."""
    h = _sandwich_page()
    a = extract_document(h)["extracted_text"]
    f = extract_document(
        h, ExtractSettings(architecture="local_fine")
    )["extracted_text"]
    assert a != f


def test_precision_arch_is_strictly_stricter():
    """The -1.2 main bias can only DROP nodes relative to base (same
    weights, lower main logit): extraction is never longer, and on the
    borderline sandwich page it is strictly shorter."""
    prec = ExtractSettings(architecture="precision")
    for i in range(40):
        h = make_page(i)["html"]
        assert len(extract_document(h, prec)["extracted_text"]) <= len(
            extract_document(h)["extracted_text"]
        )
    h = _sandwich_page()
    assert len(extract_document(h, prec)["extracted_text"]) < len(
        extract_document(h)["extracted_text"]
    )


def test_wide_arch_byte_identity(spark):
    """Spark pipeline == oracle byte-for-byte under the non-default
    architecture (the invariant is per-architecture)."""
    rows = extract(mixed_pages_df(spark, 24), WIDE).collect()
    by_url = {r["url"]: r["extracted_text"] for r in rows}
    for i in range(24):
        p = make_pdf_page(i) if i % 4 == 0 else make_page(i)
        assert (
            extract_document(p["html"], WIDE)["extracted_text"]
            == by_url[p["url"]]
        ), p["url"]


def test_wide_arch_frozen_golden():
    path = os.path.join(
        os.path.dirname(__file__), "goldens", "extractions_wide_seed42.json"
    )
    with open(path) as f:
        gold = json.load(f)
    assert len(gold) == 34
    for url, g in gold.items():
        r = extract_document(make_page(g["doc_id"])["html"], WIDE)
        sha = hashlib.sha256(r["extracted_text"].encode()).hexdigest()
        assert sha == g["text_sha256"], f"text drift for {url}"
        assert [list(s) for s in r["spans"]] == g["spans"], url
        assert r["n_nodes"] == g["n_nodes"], url


def test_wide_arch_plan_zero_exchange(spark, tmp_path):
    """Swapping architectures changes the kernel's scorer, not the plan
    shape: zero Exchange, zero Python eval."""
    from page_segmentation_spark.datagen import pages_df

    df = extract(pages_df(spark, 8, partitions=2), WIDE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan


def test_recall_arch_is_strictly_laxer():
    """The +0.4 main bias can only KEEP nodes relative to base (same
    weights, higher main logit): extraction is never shorter, and on the
    borderline sandwich page it is strictly longer."""
    rec = ExtractSettings(architecture="recall")
    for i in range(40):
        h = make_page(i)["html"]
        assert len(extract_document(h, rec)["extracted_text"]) >= len(
            extract_document(h)["extracted_text"]
        )
    h = _sandwich_page()
    assert len(extract_document(h, rec)["extracted_text"]) > len(
        extract_document(h)["extracted_text"]
    )


def test_long_doc_differs_on_adversarial_layout():
    """±16 section smoothing + the 5.0 char cap react differently around
    a link block than base (same head, wider pyramid) — a LONGER
    straggler than the ±12 sandwich, since the higher char cap also
    shifts the length feature."""
    links = "".join(
        f'<li><a href="/p/{i}">related link item number {i} here</a></li>'
        for i in range(5)
    )
    paras = "".join(f"<p>{'word ' * 5}end.</p>" for _ in range(3))
    filler = "".join(f"<p>tiny{j}</p>" for j in range(9))
    h = (
        f"<html><body><article>{paras}</article><ul>{links}</ul>{filler}"
        f"<p>{'straggler content sentence with several words here ' * 6}</p>"
        "</body></html>"
    ).encode()
    a = extract_document(h)["extracted_text"]
    ld = extract_document(
        h, ExtractSettings(architecture="long_doc")
    )["extracted_text"]
    assert a != ld


TRAINED = ExtractSettings(architecture="trained_v1")


def test_trained_arch_differs_and_hits_gt():
    """The trained head is a genuinely different parameterization (it
    disagrees with base on a borderline layout) yet achieves full GT
    recall with zero probe leakage on hostile fixtures STRICTLY OUTSIDE
    its training range (trained on doc ids 0-14 per shape; evaluated on
    15-29 — a real generalization check, not memorization)."""
    from page_segmentation_spark import datagen as dg

    tp = fn = leaks = 0
    for shape in dg.HOSTILE_SHAPES:
        for i in range(15, 30):
            row = dg.hostile_page(shape, i)
            e = extract_document(row["html"], TRAINED)["extracted_text"]
            for g in row["gt_main"]:
                tp += g in e
                fn += g not in e
            leaks += sum(1 for b in row["boiler_probe"] if b in e)
    assert fn == 0 and leaks == 0 and tp > 0
    # not a re-labelled copy of base: a short borderline sandwich page
    # (3 tiny fillers, 1-sentence straggler) splits the two heads
    links = "".join(
        f'<li><a href="/p/{i}">related link item number {i} here</a></li>'
        for i in range(5)
    )
    paras = "".join(f"<p>{'word ' * 5}end.</p>" for _ in range(3))
    filler = "".join(f"<p>tiny{j}</p>" for j in range(3))
    h = (
        f"<html><body><article>{paras}</article><ul>{links}</ul>{filler}"
        f"<p>{'straggler content sentence with several words here '}</p>"
        "</body></html>"
    ).encode()
    assert (
        extract_document(h, TRAINED)["extracted_text"]
        != extract_document(h)["extracted_text"]
    )


def test_trained_arch_byte_identity(spark):
    """Spark pipeline == oracle byte-for-byte under the trained head
    (byte identity holds for ANY registered weights)."""
    rows = extract(mixed_pages_df(spark, 24), TRAINED).collect()
    by_url = {r["url"]: r["extracted_text"] for r in rows}
    for i in range(24):
        p = make_pdf_page(i) if i % 4 == 0 else make_page(i)
        assert (
            extract_document(p["html"], TRAINED)["extracted_text"]
            == by_url[p["url"]]
        ), p["url"]


def test_trained_arch_frozen_golden():
    path = os.path.join(
        os.path.dirname(__file__), "goldens",
        "extractions_trained_seed42.json",
    )
    with open(path) as f:
        gold = json.load(f)
    assert len(gold) == 34
    for url, g in gold.items():
        r = extract_document(make_page(g["doc_id"])["html"], TRAINED)
        sha = hashlib.sha256(r["extracted_text"].encode()).hexdigest()
        assert sha == g["text_sha256"], f"text drift for {url}"
        assert [list(s) for s in r["spans"]] == g["spans"], url
        assert r["n_nodes"] == g["n_nodes"], url


def test_trained_arch_plan_zero_exchange(spark):
    """Trained weights ride in the kernel like any other head: zero
    Exchange, zero Python eval."""
    from page_segmentation_spark.datagen import pages_df

    df = extract(pages_df(spark, 8, partitions=2), TRAINED)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan
