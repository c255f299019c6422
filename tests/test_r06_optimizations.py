"""Round-6 optimization internals: the rolling-hash gram kernel, the
C4 word count and Gopher's non-whitespace count, and the funnel's
one-kernel gates against the public operators composed.

Value identity of the big rewrites (the funnel) is already pinned by the
golden, oracle-parity, and value-identity suites; these tests cover the
NEW mechanisms directly."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from page_segmentation_spark.operators import dedup as D


def _h64(w: str) -> int:
    return int(hashlib.md5(w.encode("utf-8")).hexdigest()[:16], 16)


def _ref_gram_hash(words, p, k):
    """Direct (non-rolling) evaluation of the polynomial the kernel's
    prefix/extract arithmetic must reproduce."""
    acc = 0
    for w in words[p:p + k]:
        acc = (acc * D._GRAM_B + _h64(w)) & D._GRAM_MASK
    return acc - (1 << 64) if acc >= (1 << 63) else acc


def test_gram_kernel_matches_direct_polynomial():
    k = 3
    words = "alpha beta gamma beta alpha delta beta gamma".split()
    batches = [_make_batch([(7, words)])]
    rows = _run_kernel(batches, k)
    assert [r[1] for r in rows] == list(range(len(words) - k + 1))
    for (_id, pos, gh) in rows:
        assert gh == _ref_gram_hash(words, pos, k)
    # equal word windows hash equal; the two 'beta gamma' starts differ
    by_pos = {pos: gh for (_i, pos, gh) in rows}
    assert words[1:4] != words[3:6]
    assert by_pos[1] != by_pos[3]


def test_gram_kernel_short_and_exact_length_docs():
    k = 4
    rows = _run_kernel(
        [_make_batch([(1, ["a", "b", "c"]), (2, ["a", "b", "c", "d"])])], k
    )
    # doc shorter than k yields no grams (the r5 sequence/slice form
    # raised on this shape); doc of exactly k yields one
    assert [(r[0], r[1]) for r in rows] == [(2, 0)]


def test_gram_kernel_same_gram_across_docs():
    k = 2
    rows = _run_kernel(
        [_make_batch([(1, ["x", "y", "z"]), (2, ["q", "x", "y"])])], k
    )
    gh = {(r[0], r[1]): r[2] for r in rows}
    assert gh[(1, 0)] == gh[(2, 1)]  # shared 'x y'
    assert len(set(gh.values())) == 3


def _make_batch(docs):
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [
            pa.array([d[0] for d in docs], type=pa.int32()),
            pa.array([d[1] for d in docs], type=pa.list_(pa.string())),
        ],
        names=["id", "words"],
    )


def _run_kernel(batches, k):
    out = []
    for b in D._gram_hash_kernel(k)(iter(batches)):
        out.extend(
            zip(
                b.column("id").to_pylist(),
                b.column("pos").to_pylist(),
                b.column("gh").to_pylist(),
            )
        )
    return out


def test_span_scrub_end_to_end_values(spark):
    """Scrub semantics through the kernel path: the shared 4-gram is
    removed from every occurrence but the min-(id, pos) one."""
    boiler = "one two three four"
    rows = [
        (1, f"intro text {boiler} tail words here"),
        (2, f"{boiler} something unique for two"),
        (3, "completely unrelated document text"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in D.duplicate_span_scrub(df, "doc_id", "text", k=4).collect()
    }
    assert out[1]["n_scrubbed"] == 0
    assert boiler in out[1]["clean_text"]
    assert out[2]["n_scrubbed"] == 4
    assert boiler not in out[2]["clean_text"]
    assert "something unique for two" in out[2]["clean_text"]
    assert out[3]["n_scrubbed"] == 0


def test_paragraph_dedup_values_unchanged(spark):
    rows = [
        (1, "a b c a b c x y z"),
        (2, "a b c d e f"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in D.paragraph_dedup(
            df, "doc_id", D.word_chunks(F.col("text"), 3), max_dup=1
        ).collect()
    }
    # 'a b c' occurs in both docs (and twice in doc 1) -> dropped
    assert out[1]["clean_text"] == "x y z"
    assert out[1]["n_kept"] == 1 and out[1]["n_removed"] == 2
    assert out[2]["clean_text"] == "d e f"


def test_c4_keep_line_rlike_word_count():
    """c4_keep_line counts words exactly like the frozen DuckDB twin:
    >= min_words maximal runs of non-space characters (a tab is a word
    character, as in Spark's rlike form this replaced)."""
    from page_segmentation_spark.functions.text import c4_keep_line

    cases = [
        "one two three four five.",          # exactly 5 -> keep
        "one two three four.",               # 4 -> drop
        "  leading spaces one two three four five.",
        "tab\tseparated words here now ok.",  # tab is a word char
        "multi  spaces   between words five six.",
        "a. b. c. d. e.",
        "",                                   # empty -> drop
        "      ",                             # spaces only -> drop
        "one-word.",                          # 1 -> drop
        ("w " * 60).strip() + ".",            # long line -> keep
    ]
    got = [c4_keep_line(c) for c in cases]

    def ref(line: str) -> bool:
        t = line.rstrip(" ")
        if not (t and t[-1] in (".", "!", "?", '"')):
            return False
        if len([w for w in t.split(" ") if w]) < 5:
            return False
        return "javascript" not in t.lower()

    assert got == [ref(c) for c in cases]
    assert got == [True, False, True, True, True, True, False, False,
                   False, True]


def test_c4_keep_line_min_words_edges():
    from page_segmentation_spark.functions.text import c4_keep_line

    lines = ["word.", "  ."]
    # min_words=1: any non-space content counts ('.' alone is 1 word)
    assert [c4_keep_line(ln, min_words=1) for ln in lines] == [True, True]
    # min_words=0: the count clause vanishes (always satisfied)
    assert [c4_keep_line(ln, min_words=0) for ln in lines] == [True, True]


def test_gopher_non_ws_fold_matches_replace(spark):
    """gopher_quality's mean_word_len must use the non-whitespace count
    of the DuckDB twin's regexp_replace('\\s+','') length — including
    mixed whitespace, boundary empties, and blank text."""
    import re

    from page_segmentation_spark.functions.text import gopher_quality

    texts = [
        "plain words here.",
        "\tleading tab and trailing\t",
        "multi  spaces\nand\nnewlines",
        "",
        "   ",
        "word nbsp stays glued",
        "x",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["id", "t"]
    )
    out = {
        r["id"]: r
        for r in gopher_quality(df, "id", "t", min_words=0).collect()
    }
    for i, t in enumerate(texts):
        n_words = out[i]["n_words"]
        # Java \s is ASCII-only (no  ) — mirror that, not Python's
        # unicode \s (the nbsp case pins exactly this distinction)
        non_ws = len(re.sub(r"[ \t\n\r\f\x0b]+", "", t))
        if n_words > 0:
            assert out[i]["mean_word_len"] == round(non_ws / n_words, 6)
        else:
            assert out[i]["mean_word_len"] == 0.0


def test_funnel_share_wiring_matches_unshared(spark):
    """The funnel's one-kernel gates must be row-identical to the public
    operators composed (c4_line_filter -> page gate -> gopher_quality ->
    keep -> with_lang_id -> fingerprint) over hostile text shapes."""
    from page_segmentation_spark.functions.text import (
        c4_line_filter,
        fingerprint,
        gopher_quality,
        with_lang_id,
    )
    from page_segmentation_spark.plans.training_corpus import (
        corpus_features_from_text,
    )

    body = (
        "the quick brown fox jumps over the lazy dog again and again.\n"
        "and the story of the dog and the fox continues here today!\n"
        "with more of the words that the filters want to see now?\n"
    )
    texts = [
        body * 3,
        body + "- bullet\n" * 2 + body,
        "short",                      # fails c4 min_kept_lines
        body.replace("the", "el") * 3,
        "",
    ]
    ext = spark.createDataFrame(
        [(f"u{i}", t) for i, t in enumerate(texts)],
        ["url", "extracted_text"],
    )

    def composed(ext):
        c4 = c4_line_filter(ext, "url", "extracted_text").where(
            F.col("page_kept") == 1
        )
        g = gopher_quality(c4, "url", "clean_text").where(F.col("keep") == 1)
        sv = c4.join(g, "url").select(
            "url", "clean_text", F.col("n_words").alias("n_tokens")
        )
        return with_lang_id(sv, "clean_text").select(
            "url",
            "lang",
            "n_tokens",
            fingerprint(F.col("clean_text")).alias("content_fp"),
            "clean_text",
        )

    a = sorted(tuple(r) for r in composed(ext).collect())
    b = sorted(
        tuple(r)
        for r in corpus_features_from_text(ext, "extracted_text").collect()
    )
    assert len(a) == 3
    assert a == b
