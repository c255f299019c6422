"""Oracle micro-fixture tests (FIXTURES.md §7): vote tie-break, gap merge,
span trim, thresholds, exact median — the executable spec the Spark side
is compared against."""

import pytest

from page_segmentation_spark.config import ExtractSettings, derive_thresholds
from page_segmentation_spark.functions import scorer_core as sc
from page_segmentation_spark.oracle import (
    cc_majority_vote,
    cut_spans,
    extract_document,
)


def _node(idx, tag="p", is_fg=True, n_chars=10):
    return {
        "node_idx": idx,
        "tag": tag,
        "container": "",
        "is_fg": is_fg,
        "n_chars": n_chars,
        "n_tokens": 2,
        "n_link_chars": 0,
        "n_punct": 0,
        "n_digits": 0,
        "n_upper": 0,
        "n_alpha": n_chars,
        "n_stop": 0,
        "depth": 2,
        "text": f"t{idx}",
    }


def test_vote_majority_and_tie_lowest_class():
    # one run of 4 p-nodes: classes [1,1,0,2] -> majority... tie 1v1v... no:
    # counts {1:2, 0:1, 2:1} -> winner 1
    nodes = [_node(i) for i in range(4)]
    assert cc_majority_vote(nodes, [1, 1, 0, 2]) == [1, 1, 1, 1]
    # exact tie {0:2, 1:2} -> lowest class id (np.argmax first-max,
    # reference lib/postprocess.py:23)
    assert cc_majority_vote(nodes, [0, 1, 0, 1]) == [0, 0, 0, 0]


def test_vote_breaks_on_tag_change_and_fg():
    nodes = [
        _node(0, tag="li"),
        _node(1, tag="li"),
        _node(2, tag="p"),
        _node(3, tag="img", is_fg=False),
        _node(4, tag="p"),
    ]
    preds = [0, 1, 1, 2, 0]
    voted = cc_majority_vote(nodes, preds)
    assert voted[0] == 0 and voted[1] == 0  # li-run tie -> 0
    assert voted[2] == 1  # own run
    assert voted[3] == 2  # non-fg keeps raw
    assert voted[4] == 0


def test_cut_spans_gap_merge_and_trim():
    settings = ExtractSettings()
    # char_med >= 40 -> split_size 2; indicator 1,1,0,1,1 (interior gap of
    # 1 < 2 merges); non-main tail never merged
    nodes = [_node(i) for i in range(7)]
    voted = [1, 1, 0, 1, 1, 0, 0]
    spans = cut_spans(nodes, voted, settings, char_med=50.0)
    assert spans == [(0, 4, 4)]


def test_cut_spans_border_gap_never_merged():
    settings = ExtractSettings(dilate_radius=0)
    nodes = [_node(i) for i in range(5)]
    voted = [0, 1, 1, 1, 0]
    spans = cut_spans(nodes, voted, settings, char_med=50.0)
    assert spans == [(1, 3, 3)]


def test_negative_dilate_radius_rejected():
    with pytest.raises(ValueError, match="dilate_radius"):
        extract_document(b"<p>x</p>", ExtractSettings(dilate_radius=-1))


def test_cut_spans_split_on_large_gap():
    settings = ExtractSettings(dilate_radius=0)
    nodes = [_node(i) for i in range(9)]
    voted = [1, 1, 0, 0, 0, 1, 1, 0, 1]
    spans = cut_spans(nodes, voted, settings, char_med=50.0)
    # gap of 3 >= split_size 2 cuts; gap of 1 merges
    assert spans == [(0, 1, 2), (5, 8, 3)]


def test_thresholds():
    assert derive_thresholds(50.0) == (2, 1)
    assert derive_thresholds(39.0) == (3, 1)


def test_exact_median_matches_spark_percentile():
    assert sc.exact_median([1, 2, 3]) == 2.0
    assert sc.exact_median([1, 2, 3, 10]) == 2.5
    assert sc.exact_median([]) == 0.0
    assert sc.exact_median([7]) == 7.0


def test_classify_tie_prefers_lowest_class():
    # zero features -> logits = biases (0.5, -0.4, -1.5) -> class 0
    feats = [0.0] * sc.N_FEATURES
    assert sc.classify(feats) == 0


def test_extract_document_empty():
    r = extract_document(b"")
    assert r["extracted_text"] == "" and r["spans"] == [] and r["n_nodes"] == 0


def test_extract_document_deterministic():
    html = b"<body><nav><a href='/'>Home</a></nav><article><h1>Title here now</h1><p>" \
        + ("A long paragraph of real sentence text that goes on. " * 5).encode() \
        + b"</p></article></body>"
    a = extract_document(html)
    b2 = extract_document(html)
    assert a["extracted_text"] == b2["extracted_text"]
    assert len(a["extracted_text"]) > 0


def test_markdown_renders_all_block_structures():
    """Every live MD_PREFIXES entry renders: h1/h3 headings, list items,
    blockquote, bare paragraphs — structure preserved, boilerplate
    still excluded."""
    from page_segmentation_spark.oracle import extract_document_markdown

    html = (
        b"<html><body><article><h1>The Title Here</h1>"
        b"<p>A real paragraph with enough words to be counted as main "
        b"content today.</p>"
        b"<ul><li>first list item with several words</li>"
        b"<li>second list item with words too</li></ul>"
        b"<blockquote>a quoted sentence with enough substance to keep"
        b"</blockquote><h3>A Subheading</h3>"
        b"<p>Closing paragraph with plenty of words to anchor the span."
        b"</p></article>"
        b"<nav><a href=/>Home</a><a href=/a>About</a></nav></body></html>"
    )
    md = extract_document_markdown(html)["extracted_markdown"]
    assert md.startswith("# The Title Here")
    assert "\n\n- first list item" in md
    assert "\n\n> a quoted sentence" in md
    assert "\n\n### A Subheading" in md
    assert "Home" not in md  # nav still excluded
