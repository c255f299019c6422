"""Markdown rendering of extracted main content.

Training pipelines increasingly keep heading/list structure in the
extracted text (markdown-ish output is what the popular extractors
offer as their structured mode); the engine's node records already
carry the block tag, so markdown is a pure FORMATTING layer over the
same selected nodes as plain extraction — same classifier, same spans,
same bridge guard, different join (``oracle.render``).
"""

from __future__ import annotations

#: block tag -> markdown line prefix; tags not listed render bare.
MD_PREFIXES = {
    "h1": "# ",
    "h2": "## ",
    "h3": "### ",
    "h4": "#### ",
    "li": "- ",
    "blockquote": "> ",
}


def md_line(tag: str, text: str) -> str:
    """One markdown line: the tag's prefix, then the node text."""
    return MD_PREFIXES.get(tag, "") + text
