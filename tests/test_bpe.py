"""Real BPE tokenizer (functions/bpe.py): merge semantics, determinism,
frozen-table sanity, and the Spark kernel surface."""

import pytest

from page_segmentation_spark.functions import bpe


@pytest.fixture
def tiny_merges():
    """Install a hand-checkable table, restore the frozen one after."""
    saved = bpe.MERGES
    bpe._set_merges([
        ("l", "o</w>"),      # lo</w>
        ("l", "lo</w>"),     # llo</w>
        ("h", "e"),          # he
        ("he", "llo</w>"),   # hello</w>
    ])
    yield
    bpe._set_merges(saved)


def test_greedy_lowest_rank_merging(tiny_merges):
    assert bpe.bpe_word("hello") == ("hello</w>",)
    # partial coverage: unmerged symbols stay as chars
    assert bpe.bpe_word("help") == ("he", "l", "p</w>")
    # rank order matters: ("l","o</w>") fires before ("h","e") when both
    # are present, collapsing the word bottom-up
    assert bpe.bpe_word("lo") == ("lo</w>",)


def test_encode_word_split_and_case(tiny_merges):
    toks = bpe.bpe_encode("Hello, hello!")
    # lowercased; punctuation is its own single-symbol word
    assert toks == ["hello</w>", ",</w>", "hello</w>", "!</w>"]


def test_cache_is_transparent(tiny_merges):
    a = bpe.bpe_word("hello")
    assert bpe.bpe_word("hello") is a  # memoized
    bpe._set_merges([])  # cache cleared with the table
    assert bpe.bpe_word("hello") == ("h", "e", "l", "l", "o</w>")
    # restore handled by the fixture


def test_frozen_table_trained_and_effective():
    """The shipped table must be non-trivial and actually compress the
    corpus it was trained on (subword count < char count, > word count)."""
    from page_segmentation_spark.datagen import make_page

    assert len(bpe.MERGES) >= 100
    assert all(len(p) == 2 for p in bpe.MERGES)
    text = make_page(7)["text"]
    toks = bpe.bpe_encode(text)
    n_words = len(bpe._WORD_RE.findall(text.lower()))
    n_chars = sum(len(w) for w in bpe._WORD_RE.findall(text.lower()))
    assert n_words <= len(toks) < n_chars
    # round-trip: concatenating tokens reconstructs the words exactly
    joined = "".join(toks).replace("</w>", " ").split()
    assert joined == bpe._WORD_RE.findall(text.lower())


def test_training_is_deterministic():
    import os
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tools"))
    from train_bpe import train

    assert train(20, 30) == train(20, 30)


def test_spark_kernel(spark):
    from page_segmentation_spark.packaging import ship_package

    ship_package(spark)
    df = spark.createDataFrame(
        [(1, "Hello world"), (2, ""), (3, "digits 123 here")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bpe.with_bpe_tokens(df).collect()}
    assert out[2]["n_bpe_tokens"] == 0 and out[2]["bpe_preview"] == ""
    assert out[1]["n_bpe_tokens"] >= 2
    exp = bpe.bpe_encode("digits 123 here")
    assert out[3]["n_bpe_tokens"] == len(exp)
    assert out[3]["bpe_preview"] == ",".join(exp[:8])
