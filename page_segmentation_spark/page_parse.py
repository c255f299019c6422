"""Format-dispatching page parser: the single decode front-end.

One callable for both the oracle and the Spark parse kernel (mirror-site
rule: byte-identity holds because BOTH sides route through this exact
function).  Format detection is content-based — the `%PDF-` magic — so a
mixed corpus (the north-star's "HTML (and PDF byte streams)") flows
through one pages table and one plan.
"""

from __future__ import annotations

from typing import Any, Dict, List

from page_segmentation_spark.html_parse import parse_html
from page_segmentation_spark.pdf_parse import parse_pdf

_PDF_MAGIC = b"%PDF-"


def parse_page(
    content: bytes | str,
    max_nodes: int = 50_000,
    pdf_password: str = "",
) -> List[Dict[str, Any]]:
    """Parse one page byte-stream (HTML or PDF) into ordered node records
    (html_parse.NODE_FIELDS contract).  ``pdf_password`` is the user
    password for encrypted PDFs (empty = the owner-locked crawl shape;
    a wrong password degrades, never garbles — see build_decryptor)."""
    if isinstance(content, str) and content.startswith("%PDF-"):
        # a PDF that travelled as text: recover the byte stream
        content = content.encode("latin-1", errors="replace")
    if isinstance(content, (bytes, bytearray)) and content[:5] == _PDF_MAGIC:
        pw = pdf_password.encode("utf-8") if pdf_password else b""
        return parse_pdf(bytes(content), max_nodes=max_nodes, password=pw)
    return parse_html(content, max_nodes=max_nodes)
