"""Charset sniffing (real-crawl front door): BOM > meta declaration >
UTF-8, WHATWG label overrides, and end-to-end extraction of non-UTF-8
pages through the shared parser."""

import pytest

from page_segmentation_spark import datagen as dg
from page_segmentation_spark.html_parse import (
    decode_page_bytes,
    parse_html,
    sniff_charset,
)
from page_segmentation_spark.oracle import extract_document


def test_bom_wins_over_meta():
    raw = b"\xef\xbb\xbf<meta charset='shift_jis'><p>x</p>"
    assert sniff_charset(raw) == "utf-8"
    assert sniff_charset(b"\xff\xfe" + "x".encode("utf-16-le")) == "utf-16"


def test_meta_charset_variants():
    assert sniff_charset(b'<meta charset="Shift_JIS">') == "shift_jis"
    assert (
        sniff_charset(
            b'<meta http-equiv="Content-Type" '
            b'content="text/html; charset=gb2312">'
        )
        == "gb2312"
    )
    # WHATWG overrides: latin-1 labels mean windows-1252
    assert sniff_charset(b"<meta charset=iso-8859-1>") == "windows-1252"
    assert sniff_charset(b"<meta charset=ASCII>") == "windows-1252"


def test_unknown_label_falls_back_to_utf8():
    assert sniff_charset(b'<meta charset="klingon-9">') == "utf-8"
    assert sniff_charset(b"<p>no declaration at all</p>") == "utf-8"


def test_declaration_outside_sniff_window_ignored():
    raw = b"<!--" + b"x" * 3000 + b'--><meta charset="shift_jis">'
    assert sniff_charset(raw) == "utf-8"


@pytest.mark.parametrize("codec", sorted(dg.CHARSET_CASES))
def test_charset_page_extracts_decoded_text(codec):
    row = dg.make_charset_page(codec, 7)
    ext = extract_document(row["html"])["extracted_text"]
    for g in row["gt_main"]:
        assert g in ext, (codec, ext[:200])
    assert "�" not in ext  # no replacement-char soup


def test_decode_is_deterministic_on_garbage():
    junk = b"\xff\x00\xfe garbage \x80\x81"
    assert decode_page_bytes(junk) == decode_page_bytes(junk)
    parse_html(junk)  # must not raise


def test_charset_pages_byte_identical_through_spark(spark):
    """Non-UTF-8 binary pages flow through the Spark parse stage (shared
    decode front door) byte-identically to the oracle."""
    import pandas as pd

    from page_segmentation_spark.packaging import ship_package
    from page_segmentation_spark.plans.extract import extract
    from page_segmentation_spark.sources.pages_schema import PAGES_DDL

    ship_package(spark)
    rows = [
        dg.make_charset_page(codec, i)
        for i, codec in enumerate(sorted(dg.CHARSET_CASES))
    ]
    pdf = pd.DataFrame(rows)[["url", "warc_ts", "html", "text", "lang"]]
    pages = spark.createDataFrame(pdf, PAGES_DDL)
    got = {r["url"]: r["extracted_text"] for r in extract(pages).collect()}
    for row in rows:
        want = extract_document(row["html"])["extracted_text"]
        assert got[row["url"]] == want, row["url"]
        assert row["gt_main"][0] in want
