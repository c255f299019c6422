"""Pins the corpus funnel's gates on an edge battery.

The expected values below were produced by the Catalyst implementation
the per-document Python gates replaced, so they pin Spark parity on the
inputs where Python and the JVM most easily disagree: NBSP, tab, CRLF,
``\\x0b``, ``\\x85``, dotted capital I, final sigma, ligatures, empty
and blank text, ``....`` against ``…``, bullets with and without a
following space, ``min_kept_lines=0`` and ``min_words`` 0 and 1.
"""

from __future__ import annotations

import hashlib
import re

import pytest

from page_segmentation_spark.functions import text as T

_PASS = (
    "the quick brown fox jumps over the lazy dog and the cat.\n"
    "a second line of plain prose with enough of the words to pass!\n"
    "and the third line is here to keep the page above the floor.\n"
)

#: (id, text): each case alone, most of them again after passing lines
EDGE = [
    (0, ""),
    (1, "   "),
    (2, "\n"),
    (3, "\n\n \n"),
    (4, "the quick brown fox jumps over the lazy dog. "),
    (5, "  the quick brown fox jumps over it. \n "),
    (6, "one\ttwo three four five six.\t\n\ttab led line of the words."),
    (7, "the quick brown fox jumps.\r\nover the lazy dog and cat.\r\n"),
    (8, "the quick\x0bbrown fox jumps over it.\n\x0b\x0b"),
    (9, "the quick\x85brown fox jumps over it.\x85\nand\x85the of"),
    (10, "İSTANBUL IS THE CITY OF THE AND TO.\nİ the İ and İ."),
    (11, "ΟΔΟΣ the and of to.\nΣΟΦΟΣ ΛΟΓΟΣ Σ the and."),
    (12, "the ﬁne print of the and to is here.\nﬂow ﬁ ﬀ ﬃ the and."),
    (13, "it trails off....\nand then…\nand the end...\nfour....."),
    (14, "• item one\n•item two\n- item three\n-item four\n* five\n*six"),
    (15, "  • spaced bullet\n\t• tab bullet\n   - dash\n…\n..."),
    (16, "# ## ### the and of to be.\n### ... ... ...."),
    (17, "Lorem Ipsum dolor sit amet, of the and to the end."),
    (18, "function() { return the and of to; }"),
    (19, "this line has JavaScript in the middle of it here.\nok."),
    (20, "word.\n  .\n.\n!\n?\n\"\n a b c d e."),
    (21, " the and of to is der die und das ist le la les et est "),
    (22, "el los las que es the and\nder die und das ist le"),
    (23, "42 17 99 the. 100 200 300 400 500."),
    (24, " the and of to is. \n\x0c the \x0c"),
    (25, "Straße ß ẞ the STRASSE and of.\nǅ ǈ ǋ the and to."),
    (26, "le chat et la souris est dans les bois."),
    (27, "DER Hund UND die Katze IST das."),
]
EDGE += [(100 + i, _PASS + t) for i, t in EDGE if t.strip(" \n")]


def _h(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()[:8]


def _rows(df, hashed: int | None = None) -> list:
    """Sorted row tuples, the text at index ``hashed`` as :func:`_h`."""
    out = []
    for r in sorted(tuple(r) for r in df.collect()):
        if hashed is not None:
            r = r[:hashed] + (_h(r[hashed]),) + r[hashed + 1:]
        out.append(r)
    return out


@pytest.fixture(scope="module")
def edge(spark):
    return spark.createDataFrame(
        [(i, f"u{i:03d}", t) for i, t in EDGE],
        "id long, url string, text string",
    )


# (id, md5[:8] of clean_text, n_kept, n_removed, page_kept), defaults
C4 = [
    (0, 'd41d8cd9', 0, 1, 0),
    (1, 'd41d8cd9', 0, 1, 0),
    (2, 'd41d8cd9', 0, 2, 0),
    (3, 'd41d8cd9', 0, 4, 0),
    (4, 'd41d8cd9', 0, 1, 0),
    (5, 'd41d8cd9', 0, 2, 0),
    (6, 'f8755c6c', 1, 1, 0),
    (7, 'd41d8cd9', 0, 3, 0),
    (8, 'c6798898', 1, 1, 0),
    (9, 'd41d8cd9', 0, 2, 0),
    (10, '7fe769e8', 2, 0, 0),
    (11, 'ba0dd55f', 2, 0, 0),
    (12, 'e39c1410', 2, 0, 0),
    (13, 'd41d8cd9', 0, 4, 0),
    (14, 'd41d8cd9', 0, 6, 0),
    (15, 'd41d8cd9', 0, 5, 0),
    (16, 'd9be0f84', 1, 1, 0),
    (17, 'd40c84bd', 1, 0, 0),
    (18, 'd41d8cd9', 0, 1, 0),
    (19, 'd41d8cd9', 0, 2, 0),
    (20, 'c553a7bd', 1, 6, 0),
    (21, 'd41d8cd9', 0, 1, 0),
    (22, 'd41d8cd9', 0, 2, 0),
    (23, '050af453', 1, 0, 0),
    (24, 'd41d8cd9', 0, 2, 0),
    (25, '1d49b0aa', 2, 0, 0),
    (26, 'bf0a67e4', 1, 0, 0),
    (27, '192abd25', 1, 0, 0),
    (104, '938494c8', 3, 1, 1),
    (105, '938494c8', 3, 2, 1),
    (106, '126476b8', 4, 1, 1),
    (107, '938494c8', 3, 3, 1),
    (108, '60287d93', 4, 1, 1),
    (109, '938494c8', 3, 2, 1),
    (110, '8bcd00c8', 5, 0, 1),
    (111, '68365780', 5, 0, 1),
    (112, 'dc2bd157', 5, 0, 1),
    (113, '938494c8', 3, 4, 1),
    (114, '938494c8', 3, 6, 1),
    (115, '938494c8', 3, 5, 1),
    (116, 'e68f78ac', 4, 1, 1),
    (117, '28c3b3e4', 4, 0, 0),
    (118, '938494c8', 3, 1, 0),
    (119, '938494c8', 3, 2, 1),
    (120, '39adf9bd', 4, 6, 1),
    (121, '938494c8', 3, 1, 1),
    (122, '938494c8', 3, 2, 1),
    (123, '53e3852b', 4, 0, 1),
    (124, '938494c8', 3, 2, 1),
    (125, '22c08ebe', 5, 0, 1),
    (126, '46e962d1', 4, 0, 1),
    (127, 'a77e5f3a', 4, 0, 1),
]

# the same with min_kept_lines=0, for min_words 0 and 1 alike
C4_W01 = [
    (0, 'd41d8cd9', 0, 1, 1),
    (1, 'd41d8cd9', 0, 1, 1),
    (2, 'd41d8cd9', 0, 2, 1),
    (3, 'd41d8cd9', 0, 4, 1),
    (4, 'd41d8cd9', 0, 1, 1),
    (5, 'd41d8cd9', 0, 2, 1),
    (6, 'f8755c6c', 1, 1, 1),
    (7, 'd41d8cd9', 0, 3, 1),
    (8, 'c6798898', 1, 1, 1),
    (9, 'd41d8cd9', 0, 2, 1),
    (10, '7fe769e8', 2, 0, 1),
    (11, 'ba0dd55f', 2, 0, 1),
    (12, 'e39c1410', 2, 0, 1),
    (13, '72fef0b3', 3, 1, 1),
    (14, 'd41d8cd9', 0, 6, 1),
    (15, '2f43b42f', 1, 4, 1),
    (16, 'aa3217f3', 2, 0, 1),
    (17, 'd40c84bd', 1, 0, 0),
    (18, 'd41d8cd9', 0, 1, 0),
    (19, '0260a8f6', 1, 1, 1),
    (20, 'cad41bd6', 7, 0, 1),
    (21, 'd41d8cd9', 0, 1, 1),
    (22, 'd41d8cd9', 0, 2, 1),
    (23, '050af453', 1, 0, 1),
    (24, 'd41d8cd9', 0, 2, 1),
    (25, '1d49b0aa', 2, 0, 1),
    (26, 'bf0a67e4', 1, 0, 1),
    (27, '192abd25', 1, 0, 1),
    (104, '938494c8', 3, 1, 1),
    (105, '938494c8', 3, 2, 1),
    (106, '126476b8', 4, 1, 1),
    (107, '938494c8', 3, 3, 1),
    (108, '60287d93', 4, 1, 1),
    (109, '938494c8', 3, 2, 1),
    (110, '8bcd00c8', 5, 0, 1),
    (111, '68365780', 5, 0, 1),
    (112, 'dc2bd157', 5, 0, 1),
    (113, '8bfffd22', 6, 1, 1),
    (114, '938494c8', 3, 6, 1),
    (115, 'b8d8a148', 4, 4, 1),
    (116, 'b99b7c78', 5, 0, 1),
    (117, '28c3b3e4', 4, 0, 0),
    (118, '938494c8', 3, 1, 0),
    (119, '3fcd3079', 4, 1, 1),
    (120, 'db1aa017', 10, 0, 1),
    (121, '938494c8', 3, 1, 1),
    (122, '938494c8', 3, 2, 1),
    (123, '53e3852b', 4, 0, 1),
    (124, '938494c8', 3, 2, 1),
    (125, '22c08ebe', 5, 0, 1),
    (126, '46e962d1', 4, 0, 1),
    (127, 'a77e5f3a', 4, 0, 1),
]

# (id, n_words, mean_word_len, symbol_ratio, bullet_frac, ellipsis_frac,
#  alpha_frac, n_stop_hits, keep) at min_words=0
GOPHER = [
    (0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0, 0),
    (1, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0, 0),
    (2, 2, 0.0, 0.0, 0.0, 0.0, 0.0, 0, 0),
    (3, 2, 0.0, 0.0, 0.0, 0.0, 0.0, 0, 0),
    (4, 7, 5.571429, 0.0, 0.0, 0.0, 1.0, 0, 0),
    (5, 8, 4.0, 0.0, 0.0, 0.0, 0.875, 0, 0),
    (6, 12, 3.666667, 0.0, 0.0, 0.0, 1.0, 2, 1),
    (7, 12, 3.583333, 0.0, 0.0, 0.0, 0.916667, 2, 1),
    (8, 8, 3.5, 0.0, 0.0, 0.0, 0.875, 1, 0),
    (9, 8, 4.875, 0.0, 0.0, 0.0, 1.0, 2, 1),
    (10, 13, 2.923077, 0.0, 0.0, 0.0, 0.769231, 3, 0),
    (11, 10, 3.3, 0.0, 0.0, 0.0, 0.6, 3, 0),
    (12, 15, 2.733333, 0.0, 0.0, 0.0, 0.8, 4, 0),
    (13, 9, 4.888889, 0.333333, 0.0, 1.0, 1.0, 1, 0),
    (14, 13, 3.384615, 0.0, 0.666667, 0.0, 0.769231, 0, 0),
    (15, 10, 3.2, 0.1, 0.4, 0.4, 0.5, 0, 0),
    (16, 12, 2.666667, 1.0, 0.0, 0.5, 0.416667, 4, 0),
    (17, 11, 3.636364, 0.0, 0.0, 0.0, 1.0, 4, 1),
    (18, 8, 3.625, 0.0, 0.0, 0.0, 0.75, 3, 0),
    (19, 11, 4.0, 0.0, 0.0, 0.0, 1.0, 2, 1),
    (20, 11, 1.454545, 0.0, 0.0, 0.0, 0.545455, 0, 0),
    (21, 15, 2.6, 0.0, 0.0, 0.0, 1.0, 4, 0),
    (22, 13, 2.769231, 0.0, 0.0, 0.0, 1.0, 1, 0),
    (23, 9, 2.888889, 0.0, 0.0, 0.0, 0.111111, 0, 0),
    (24, 6, 3.166667, 0.0, 0.0, 0.0, 0.833333, 3, 1),
    (25, 13, 2.769231, 0.0, 0.0, 0.0, 0.615385, 2, 0),
    (26, 9, 3.444444, 0.0, 0.0, 0.0, 1.0, 0, 0),
    (27, 7, 3.571429, 0.0, 0.0, 0.0, 1.0, 0, 0),
    (104, 45, 4.044444, 0.0, 0.0, 0.0, 1.0, 5, 1),
    (105, 46, 3.804348, 0.0, 0.0, 0.0, 0.978261, 5, 1),
    (106, 50, 3.74, 0.0, 0.0, 0.0, 1.0, 5, 1),
    (107, 50, 3.72, 0.0, 0.0, 0.0, 0.98, 5, 1),
    (108, 46, 3.717391, 0.0, 0.0, 0.0, 0.978261, 5, 1),
    (109, 46, 3.956522, 0.0, 0.0, 0.0, 1.0, 5, 1),
    (110, 51, 3.54902, 0.0, 0.0, 0.0, 0.941176, 5, 1),
    (111, 48, 3.666667, 0.0, 0.0, 0.0, 0.916667, 5, 1),
    (112, 53, 3.471698, 0.0, 0.0, 0.0, 0.943396, 5, 1),
    (113, 47, 3.978723, 0.06383, 0.0, 0.571429, 1.0, 5, 0),
    (114, 51, 3.666667, 0.0, 0.444444, 0.0, 0.941176, 5, 0),
    (115, 48, 3.645833, 0.020833, 0.25, 0.25, 0.895833, 5, 0),
    (116, 50, 3.5, 0.24, 0.0, 0.2, 0.86, 5, 0),
    (117, 49, 3.734694, 0.0, 0.0, 0.0, 1.0, 5, 1),
    (118, 46, 3.73913, 0.0, 0.0, 0.0, 0.956522, 5, 1),
    (119, 49, 3.816327, 0.0, 0.0, 0.0, 1.0, 5, 1),
    (120, 49, 3.244898, 0.0, 0.0, 0.0, 0.897959, 5, 1),
    (121, 53, 3.433962, 0.0, 0.0, 0.0, 1.0, 5, 1),
    (122, 51, 3.509804, 0.0, 0.0, 0.0, 1.0, 5, 1),
    (123, 47, 3.595745, 0.0, 0.0, 0.0, 0.829787, 5, 1),
    (124, 44, 3.681818, 0.0, 0.0, 0.0, 0.977273, 5, 1),
    (125, 51, 3.509804, 0.0, 0.0, 0.0, 0.901961, 5, 1),
    (126, 47, 3.702128, 0.0, 0.0, 0.0, 1.0, 5, 1),
    (127, 45, 3.733333, 0.0, 0.0, 0.0, 1.0, 5, 1),
]

LANG = {
    'de': [27],
    'en': [
        6, 7, 8, 9, 10, 11, 12, 13, 16, 17, 18, 19,
        21, 24, 25, 104, 105, 106, 107, 108, 109, 110, 111, 112,
        113, 114, 115, 116, 117, 118, 119, 120, 121, 122, 123, 124,
        125, 126, 127,
    ],
    'es': [22],
    'fr': [26],
    'und': [
        0, 1, 2, 3, 4, 5, 14, 15, 20, 23,
    ],
}

# (url, lang, n_tokens, content_fp, md5[:8] of clean_text) at
# min_words=1, min_kept_lines=0, gopher min_words=0, min_stop_hits=1
FUNNEL = [
    ('u006', 'en', 7, 'f68b7fba1f655e68', 'f8755c6c'),
    ('u008', 'en', 7, '63deffd5773d9c8f', 'c6798898'),
    ('u104', 'en', 38, '940dc61ce0b023ae', '938494c8'),
    ('u106', 'en', 44, 'f44411ccb2d83b56', '126476b8'),
    ('u108', 'en', 45, '8eea447ef118c4bd', '60287d93'),
    ('u110', 'en', 51, '3fea58eb5f505ca5', '8bcd00c8'),
    ('u111', 'en', 48, 'b2d0a9485d8fa9e4', '68365780'),
    ('u112', 'en', 53, '0869f5870472d789', 'dc2bd157'),
    ('u115', 'en', 39, 'c202138dd81a2c40', 'b8d8a148'),
    ('u119', 'en', 39, '8e331a908498314d', '3fcd3079'),
    ('u120', 'en', 49, '0f1b0bde4172f9d5', 'db1aa017'),
    ('u123', 'en', 47, 'e5f97563f116a61d', '53e3852b'),
    ('u125', 'en', 51, '4be71dd8e07f9bf4', '22c08ebe'),
    ('u126', 'en', 47, '045fed00351930a2', '46e962d1'),
    ('u127', 'en', 45, 'fa8a576ee9b65f23', 'a77e5f3a'),
]

# the same at the default gates
FUNNEL_DEFAULT = [
    ('u110', 'en', 51, '3fea58eb5f505ca5', '8bcd00c8'),
    ('u112', 'en', 53, '0869f5870472d789', 'dc2bd157'),
    ('u125', 'en', 51, '4be71dd8e07f9bf4', '22c08ebe'),
]


def test_c4_line_filter_edges(edge):
    from page_segmentation_spark.functions.text import c4_line_filter

    assert _rows(c4_line_filter(edge, "id", "text"), 1) == C4
    for w in (0, 1):
        got = c4_line_filter(
            edge, "id", "text", min_words=w, min_kept_lines=0
        )
        assert _rows(got, 1) == C4_W01, w


def test_gopher_quality_edges(edge):
    from page_segmentation_spark.functions.text import gopher_quality

    assert _rows(gopher_quality(edge, "id", "text", min_words=0)) == GOPHER


def test_with_lang_id_edges(edge):
    from page_segmentation_spark.functions.text import with_lang_id

    got: dict = {}
    for i, lang in _rows(with_lang_id(edge, "text").select("id", "lang")):
        got.setdefault(lang, []).append(i)
    assert got == LANG


def test_training_corpus_from_text_edges(edge):
    from page_segmentation_spark.plans.training_corpus import (
        build_training_corpus,
    )

    permissive = build_training_corpus(
        edge,
        from_text=True,
        c4_opts=dict(min_kept_lines=0, min_words=1),
        gopher_opts=dict(min_words=0, min_stop_hits=1),
    )
    assert _rows(permissive, 4) == FUNNEL
    assert _rows(build_training_corpus(edge, from_text=True), 4) == (
        FUNNEL_DEFAULT
    )


def test_operator_defaults_match_document_functions():
    """The funnel calls the per-document functions with their defaults,
    and its DuckDB reference reads the Spark operators' defaults."""
    import inspect

    from page_segmentation_spark.functions import text as T

    def defaults(fn):
        return {
            k: p.default
            for k, p in inspect.signature(fn).parameters.items()
            if p.default is not inspect.Parameter.empty
        }

    assert defaults(T.c4_line_filter) == defaults(T.c4_document)
    assert defaults(T.gopher_quality) == defaults(T.gopher_document)
    assert defaults(T.c4_keep_line) == {
        k: defaults(T.c4_document)[k] for k in ("min_words", "banned_words")
    }


# ---- the fast gate paths against the formulations they replaced ---------
#
# The gates count Gopher's words on UTF-8 bytes, lower each document
# once, count markers in one pass over the space-split pieces and skip
# the per-line lowering when no banned word occurs.  The functions below
# are the former per-word, per-marker and per-line formulations, kept
# as the reference the fast paths must equal exactly.

_REF_WS = re.compile(r"\s+", re.ASCII)
_REF_ALPHA = re.compile(r"[A-Za-z]")


def _ref_word_stats(trimmed: str) -> tuple:
    words = _REF_WS.split(trimmed)
    return (len(words), sum(map(len, words)),
            sum(1 for w in words if _REF_ALPHA.search(w)))


def _ref_lang(text):
    padded = f" {(text or '').lower()} "
    scores = [
        sum(padded.count(f" {w} ") for w in words)
        for words in T.LANG_MARKERS.values()
    ]
    best = max(scores)
    return list(T.LANG_MARKERS)[scores.index(best)] if best > 0 else "und"


def _ref_keep_line(line, min_words=5, banned_words=("javascript",)):
    t = line.rstrip(" ")
    if t[-1:] not in T.C4_TERMINALS:
        return False
    words = t.split(" ")
    if len(words) - words.count("") < min_words:
        return False
    low = t.lower()
    return not any(w.lower() in low for w in banned_words)


def _ref_c4(text, min_words=5, banned_words=("javascript",),
            page_banned=("lorem ipsum", "{"), min_kept_lines=3):
    if text is None:
        return (None,) * 4
    lines = text.split("\n")
    kept = [ln for ln in lines if _ref_keep_line(ln, min_words, banned_words)]
    page_kept = len(kept) >= min_kept_lines
    if page_kept:
        low = text.lower()
        page_kept = not any(m.lower() in low for m in page_banned)
    return "\n".join(kept), len(kept), len(lines) - len(kept), int(page_kept)


def _ref_gopher(text, min_words=50, max_words=100_000, min_mean_word_len=3.0,
                max_mean_word_len=10.0, max_symbol_ratio=0.1,
                max_bullet_frac=0.1, max_ellipsis_frac=0.3,
                min_alpha_frac=0.8, min_stop_hits=2):
    if text is None:
        return (None,) * 7 + (0,)
    trimmed = text.strip(" ")
    words = _REF_WS.split(trimmed)
    n_words = len(words) if trimmed else 0
    if n_words:
        mean_wl = sum(map(len, words)) / n_words
        symbol_ratio = (text.count("#") + text.count("...")) / n_words
        alpha_frac = sum(1 for w in words if _REF_ALPHA.search(w)) / n_words
    else:
        mean_wl = symbol_ratio = alpha_frac = 0.0
    lines = text.split("\n")
    bullet_frac = sum(
        ln.lstrip(" ").startswith(("•", "- ", "* ")) for ln in lines
    ) / len(lines)
    ellipsis_frac = sum(
        ln.rstrip(" ").endswith(("...", "…")) for ln in lines
    ) / len(lines)
    padded = f" {text.lower()} "
    stop_hits = sum(1 for w in T.GOPHER_STOPWORDS if f" {w} " in padded)
    keep = (
        min_words <= n_words <= max_words
        and min_mean_word_len <= mean_wl <= max_mean_word_len
        and symbol_ratio <= max_symbol_ratio
        and bullet_frac <= max_bullet_frac
        and ellipsis_frac <= max_ellipsis_frac
        and alpha_frac >= min_alpha_frac
        and stop_hits >= min_stop_hits
    )
    return (n_words, mean_wl, symbol_ratio, bullet_frac, ellipsis_frac,
            alpha_frac, stop_hits, int(keep))


def _ref_gate(text, c4_opts, gopher_opts):
    clean, _, _, page_kept = _ref_c4(text, **c4_opts)
    if not page_kept:
        return None
    g = _ref_gopher(clean, **gopher_opts)
    return (_ref_lang(clean), g[0], clean) if g[-1] else None


_JS_NONTERMINAL = "JavaScript shows up on this line with no end\n" + _PASS
_JS_TERMINAL = "JavaScript is on this line and it ends right here.\n" + _PASS
_SIGMA = "one two three four ΟΔΟΣ.\nΑΒΓ and the other words here.\n" + _PASS

#: texts for the named shortcut cases below
NAMED = [
    "\t", "\tword\t", "\x0bword\x0c", "\rword\r\n", " \t the and \x0c ",
    "a\u00a0b", "a\x85b c", "a\u2028b c", "é ß éß", "é aß",
    " the the the ", "the the the the", "the\tthe", "the and the",
    _JS_NONTERMINAL, _JS_TERMINAL, _SIGMA,
    "\ud800", "a\ud800 b c", "the \udfff and of.",
    " one two three four.", "LE CHAT ET LA SOURIS EST the end.",
]

_C4_OPTS = [
    {},
    dict(min_words=0, min_kept_lines=0),
    dict(min_words=1, min_kept_lines=0, banned_words=("Java", "x ", "ς."),
         page_banned=("THE END",)),
]
_GOPHER_OPTS = [{}, dict(min_words=0, min_stop_hits=1)]


@pytest.fixture(scope="module")
def battery():
    import os
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tools"))
    from gate_identity import line_soup

    soups = [line_soup(i) for i in range(2000)]
    return [None] + [t for _, t in EDGE] + NAMED + soups + [
        _PASS + s for s in soups[:500]
    ]


def test_document_gates_match_reference(battery):
    for text in battery:
        assert T.detect_lang(text) == _ref_lang(text), repr(text)
        for opts in _C4_OPTS:
            assert T.c4_document(text, **opts) == _ref_c4(text, **opts), (
                repr(text), opts)
        for opts in _GOPHER_OPTS:
            assert T.gopher_document(text, **opts) == _ref_gopher(
                text, **opts), (repr(text), opts)


def test_keep_line_matches_reference(battery):
    lines = {ln for t in battery if t for ln in t.split("\n")}
    for opts in ({}, dict(min_words=0), dict(min_words=1),
                 dict(banned_words=("Java", "x ", "ς.", ""))):
        for ln in lines:
            assert T.c4_keep_line(ln, **opts) == _ref_keep_line(ln, **opts), (
                repr(ln), opts)


def test_funnel_gate_matches_reference(battery):
    from page_segmentation_spark.plans.training_corpus import _gate, _options

    for c4 in _C4_OPTS:
        for gopher in _GOPHER_OPTS:
            full = (_options(T.c4_document, c4),
                    _options(T.gopher_document, gopher))
            for text in battery:
                assert _gate(text, *full) == _ref_gate(text, c4, gopher), (
                    repr(text), c4, gopher)


def test_word_counts_use_java_whitespace_bytes():
    """Java's ``\\s`` is six ASCII bytes: a text of one tab is two empty
    words, boundary tabs, ``\\x0b``, ``\\x0c`` and ``\\r`` make empty
    words, NBSP, U+0085 and U+2028 are word characters, and only ASCII
    letters make a word alphabetic."""
    cases = {
        "\t": (2, 0, 0),
        "\tword\t": (3, 4, 1),
        "\x0bword\x0c": (3, 4, 1),
        "\rword\r\n": (3, 4, 1),
        "a\u00a0b": (1, 3, 1),
        "a\x85b c": (2, 4, 2),
        "a\u2028b c": (2, 4, 2),
        "é ß éß": (3, 4, 0),
        "é aß": (2, 3, 1),
    }
    for text, want in cases.items():
        assert T._word_stats(text) == want == _ref_word_stats(text), repr(text)
    assert T.gopher_document("\t", min_words=0)[0] == 2


def test_marker_counts_stay_non_overlapping():
    """``" the the the "`` holds two non-overlapping ``" the "``; a tab
    is not the space a marker needs."""
    from collections import Counter

    counts = Counter(T._counted_words(" the the the "))
    assert counts["the"] == 2 == "  the the the  ".count(" the ")
    assert Counter(T._counted_words("the the the the"))["the"] == 2
    assert T._counted_words("the and the") == ["the", "and", "the"]
    assert T._counted_words("the\tthe") == []
    assert T.detect_lang("the\tthe") == "und"
    for w in T._COUNTED:
        assert w and " " not in w and w == w.lower(), w


def test_banned_word_on_any_line_still_judged_per_line():
    """A banned word on a line C4 drops anyway sends the document's
    lines through the per-line check, which keeps the clean ones; on a
    terminal line it drops that line."""
    clean = "\n".join(_PASS.split("\n")[:3])
    assert T.c4_document(_JS_NONTERMINAL) == (clean, 3, 2, 1)
    assert T.c4_document(_JS_TERMINAL) == (clean, 3, 2, 1)
    assert T.c4_document(_JS_TERMINAL, banned_words=()) == (
        _JS_TERMINAL.rstrip("\n"), 4, 1, 1)


def test_final_sigma_before_newline():
    """The document is lowered whole: final-sigma context stops at
    ``"\\n"``, so each line lowers as it would alone."""
    for text in ("ΟΔΟΣ\nΑΒΓ", "ΟΔΟΣ.\nΑΒΓ", "ΣΟΦΟΣ \nΑ", "İ\nΣ\nΑΣ\n"):
        assert text.lower().split("\n") == [
            ln.lower() for ln in text.split("\n")
        ]
    got = T.c4_document(_SIGMA, banned_words=("ς.",), min_words=1)
    assert got == _ref_c4(_SIGMA, banned_words=("ς.",), min_words=1)
    assert got[1:] == (4, 2, 1)


def test_lone_surrogate_does_not_raise():
    for text in ("\ud800", "a\ud800 b c", "the \udfff and of."):
        assert T.gopher_document(text, min_words=0) == _ref_gopher(
            text, min_words=0)
