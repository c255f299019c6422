"""Deterministic HTML -> DOM-text-block parser (shared core).

This module is the analog of the reference's image decode + normalization
front-end (``DatasetLoader.load_images``, reference lib/dataset.py:160-191):
it turns one raw page byte-stream into the "pixel grid in long form" — an
ordered list of text-block node records, for the single-document chain
in :mod:`page_segmentation_spark.oracle` (which the Spark plans run per
page).  Pure stdlib (one compiled regex scans the page; no lxml/bs4
in this environment) and fully deterministic: no dict-order
dependence, no randomness.

Parser behaviour (pinned by tests/test_html_parse.py):
  * only class/id attributes are read (the boilerplate hint, matched
    ASCII-case-insensitively on the attribute name); other attributes
    are ignored;
  * a ``>`` inside a quoted attribute value ends the tag early; the
    rest of the value becomes text;
  * character references are resolved per data segment
    (``html.unescape``);
  * ``/>`` on a non-void tag is ignored (``<div/>`` opens a div);
    ``<script>``/``<style>`` content is skipped to the matching close
    tag, or to the end of the document if there is none;
  * comments, CDATA sections, declarations and processing instructions
    are dropped; an unterminated comment or CDATA section runs to the
    end of the document.

Node record fields (FIXTURES.md §2):
    node_idx  — document-order position (0-based)
    tag       — owning block tag
    depth     — DOM depth of the owning block element
    text      — whitespace-normalized visible text ('' for media nodes)
    n_chars, n_tokens, n_link_chars, n_punct, n_digits, n_upper,
    n_alpha, n_stop — integer stats (all window aggregates downstream are
    integer sums, so they are exact under any execution order)
    is_fg     — node has visible text (foreground-binary analog,
                reference lib/dataset.py:135-137)
"""

from __future__ import annotations

import re
import string
from html import unescape
from typing import Any, Dict, List

# Block-level elements: a new node begins whenever one opens or closes.
BLOCK_TAGS = frozenset(
    """p div h1 h2 h3 h4 h5 h6 li dt dd td th caption blockquote pre
    article section header footer nav aside main figure figcaption
    title summary address tr table ul ol dl form fieldset legend
    details hr br""".split()
)

# Content inside these is never visible text (script/style skip).
SKIP_TAGS = frozenset("script style noscript template svg head iframe".split())

# Elements emitted as media nodes (class-2 candidates) with empty text.
MEDIA_TAGS = frozenset("img video audio picture canvas embed object".split())

# Void elements (never pushed on the open-element stack).
VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# class/id tokens that mark an element as boilerplate regardless of tag —
# real-crawl boilerplate (comment threads, inline promos, share bars,
# cookie banners) lives in <div>/<section> wrappers whose tag carries no
# signal; the class attribute is the strongest remaining hint (the same
# token lists Readability/boilerpipe-style extractors use).  An element
# matching this is treated as a synthetic 'aside' container for every
# node inside it (innermost-ancestor rule unchanged).  Word-ish
# boundaries so 'download'/'shadow'/'gradient' never match.
BOILER_HINT_RE = re.compile(
    r"(?:^|[\s_-])(?:ad|ads|advert\w*|promo\w*|sponsor\w*|comment\w*|"
    r"sidebar|related|share|social|newsletter|subscrib\w*|cookie\w*|"
    r"banner|breadcrumb\w*|widget|masthead|disclaimer|pagination|pager|"
    r"paywall|recirc\w*|teaser\w*|outbrain|taboola)"
    r"(?:$|[\s_-])"
)


#: class/id values in a raw attribute string (one group per quoting
#: style).  Attribute names are ASCII case-insensitive; \b keeps
#: 'width=' from matching 'id='.
_CLASS_ID = re.compile(
    r"""\b(?ai:class|id)\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>"']+))"""
)


def _attrs_boiler(attrs: str) -> bool:
    """True if the class/id values in the raw attribute text ``attrs``
    mark the element as boilerplate."""
    lo = attrs.lower()
    if "class" not in lo and "id" not in lo:  # cheap prefilter
        return False
    vals = " ".join(map("".join, _CLASS_ID.findall(attrs)))
    return BOILER_HINT_RE.search(vals.lower()) is not None


# Small fixed multilingual stopword set for the stop-ratio feature.
STOPWORDS = frozenset(
    """the a an and or of to in is are was were it this that for on with as
    be by at from der die das und ist ein eine im mit von zu den le la les
    et de un une du est el los las y en que se no""".split()
)

#: memo of `token.lower().strip(punct) in STOPWORDS` (0/1) — token
#: vocabulary repeats heavily, so the per-token lower/strip becomes a
#: dict hit.  Bounded at 1M entries.
_STOP_CACHE: Dict[str, int] = {}

# Char classes are ASCII + Latin-1-supplement letters — a fixed
# definition (tests/test_properties.py pins it against its own reference
# sets), counted at C speed:
# bytes.translate uses a 256-entry C table (vs per-char dict lookups for
# str.translate) — ~6x faster.  It runs on the UTF-8 encoding of ANY
# text: the deletion tables are pure-ASCII bytes, and UTF-8 never uses
# a byte < 0x80 for a non-ASCII character, so deleted-byte counts equal
# deleted-char counts exactly.  The non-ASCII class members (the
# Latin-1-supplement letters) are exactly the C3-prefixed UTF-8
# pairs — 0xC3 is never a continuation or other lead byte, so counting
# C3 pairs at C speed (bytes.count / one small regex) adds them without
# false positives.  This replaced a str.translate fallback that was
# ~18% of total parse time on mixed-language corpora.
_BDEL_PUNCT = bytes(string.punctuation, "ascii")
_BDEL_DIGITS = bytes(string.digits, "ascii")
_BDEL_UPPER = bytes(string.ascii_uppercase, "ascii")
_BDEL_ALPHA = bytes(string.ascii_letters, "ascii")
#: U+00C0-U+00DE minus multiplication sign, as UTF-8 pairs
_RE_L1_UPPER = re.compile(rb"\xc3[\x80-\x96\x98-\x9e]")


def text_stats(
    text: str, n_link_chars: int, tokens: List[str] | None = None
) -> Dict[str, int]:
    """Integer statistics for one normalized text chunk.

    Shared by parser and fixtures; everything downstream that feeds the
    scorer is derived from these integers, so Spark/oracle cannot drift.
    ``tokens`` (optional) is text.split() if the caller already has it —
    the parse hot path avoids re-splitting.
    """
    # surrogatepass: lone surrogates (unreachable via the parse
    # front-ends, which decode with errors='replace', but allowed by the
    # public contract) encode to ED-prefixed 3-byte sequences containing
    # no ASCII-class or 0xC3 bytes — every count below is identical to
    # treating them as opaque non-letters, instead of raising.
    b = text.encode("utf-8", "surrogatepass")
    nb = len(b)
    n_punct = nb - len(b.translate(None, _BDEL_PUNCT))
    n_digits = nb - len(b.translate(None, _BDEL_DIGITS))
    n_alpha = nb - len(b.translate(None, _BDEL_ALPHA))
    n_upper = nb - len(b.translate(None, _BDEL_UPPER))
    if nb != len(text):  # non-ASCII: add the Latin-1-supplement letters
        nc3 = b.count(b"\xc3")
        if nc3:
            n_alpha += nc3 - b.count(b"\xc3\x97") - b.count(b"\xc3\xb7")
            n_upper += len(_RE_L1_UPPER.findall(b))
    if tokens is None:
        tokens = text.split()
    # _STOP_CACHE memo, inlined (a per-token function call was ~8% of
    # total parse time at 2.3M tokens per 1500 pages)
    cache = _STOP_CACHE
    try:
        # warm-cache fast path: one C-level pass, no per-token bytecode
        n_stop = sum(map(cache.__getitem__, tokens))
    except KeyError:
        cache_get = cache.get
        can_grow = len(cache) < 1_000_000
        n_stop = 0
        for tok in tokens:
            v = cache_get(tok)
            if v is None:
                v = (
                    1
                    if tok.lower().strip(string.punctuation) in STOPWORDS
                    else 0
                )
                if can_grow:
                    cache[tok] = v
            n_stop += v
    return {
        "n_chars": len(text),
        "n_tokens": len(tokens),
        "n_link_chars": min(n_link_chars, len(text)),
        "n_punct": n_punct,
        "n_digits": n_digits,
        "n_upper": n_upper,
        "n_alpha": n_alpha,
        "n_stop": n_stop,
    }


#: container-transducer base state: scanning an EMPTY stack with incoming
#: deferred d yields d itself, for d in ("", "header", "footer").
_CTX0 = ("", "header", "footer")

# one-dict tag dispatch: the handlers previously probed up to four
# frozensets per tag; a single bitmask lookup replaces them (semantics
# unchanged — the mask is BUILT from the same sets).
_K_SKIP, _K_MEDIA, _K_BLOCK, _K_VOID = 1, 2, 4, 8
_TAG_KIND: Dict[str, int] = {}
for _t in SKIP_TAGS:
    _TAG_KIND[_t] = _TAG_KIND.get(_t, 0) | _K_SKIP
for _t in MEDIA_TAGS:
    _TAG_KIND[_t] = _TAG_KIND.get(_t, 0) | _K_MEDIA
for _t in BLOCK_TAGS:
    _TAG_KIND[_t] = _TAG_KIND.get(_t, 0) | _K_BLOCK
for _t in VOID_TAGS:
    _TAG_KIND[_t] = _TAG_KIND.get(_t, 0) | _K_VOID
del _t

_TOKEN = re.compile(
    r"<!--.*?(?:-->|$)"          # comments (unterminated -> rest of doc)
    r"|<!\[CDATA\[.*?(?:\]\]>|$)"
    r"|<![^>]*>?"                # doctype / other declarations
    r"|<\?[^>]*>?"               # processing instructions
    r"|</\s*([a-zA-Z][a-zA-Z0-9:-]*)[^>]*>"   # end tag  (group 1)
    r"|<([a-zA-Z][a-zA-Z0-9:-]*)((?:[^>])*?)(/?)>",  # start tag (2,3,4)
    re.S,
)

#: elements whose raw content is skipped up to the matching close tag
#: (nested-tag bookkeeping inside noscript/template/svg stays live),
#: each with its close-tag pattern.  The search runs on the page itself,
#: ASCII-case-insensitively: a lowered copy would shift every index
#: after a U+0130, the one code point whose str.lower() grows.
_RAWTEXT = {t: re.compile(f"(?ai)</{t}").search for t in ("script", "style")}


class _BlockCollector:
    """Streams text into the nearest open block element; flushes a node on
    every block boundary.  Anchor (<a>) nesting is tracked so link-char
    counts are exact."""

    def __init__(self, max_nodes: int) -> None:
        self.max_nodes = max_nodes
        self.nodes: List[Dict[str, Any]] = []
        self._stack: List[str] = []  # open elements (incl. inline)
        # container-transducer states, lockstep with _stack: _ctx[i] is
        # the triple (g(""), g("header"), g("footer")) where g(d) is the
        # container resolved by scanning stack[0..i] top-down with
        # incoming deferred d — see _push_ctx.  Makes every container
        # query O(1) instead of an O(depth) stack walk per block event.
        self._ctx: List[tuple] = []
        self._skip_depth = 0  # >0 while inside SKIP_TAGS
        self._anchor_depth = 0  # >0 while inside <a>
        self._buf: List[str] = []  # raw text parts of current chunk
        self._buf_link: List[str] = []  # parts that are inside <a>
        self._block_tag = "body"
        self._block_depth = 0
        self._block_container = ""

    def _push_ctx(self, tag: str, boiler: bool) -> None:
        """Push the container state for a newly-opened element.

        A node's "container" field is its innermost semantic sectioning
        ancestor (article main aside nav footer header): 'footer'-ness
        of a <p> is invisible from its own tag — the container carries
        it.  Semantics (identical to an innermost-ancestor stack walk):
          * class/id-flagged boilerplate wrappers count as 'aside';
          * header/footer defer to an ENCLOSING article/main (HTML5
            scoping: an article's own <header> belongs to the article,
            only sectioning-root headers/footers are page furniture).
        Each state is the scan result for every possible incoming
        deferred value, so push/pop compose in O(1).
        """
        ctx = self._ctx
        T = ctx[-1] if ctx else _CTX0
        if boiler:
            ctx.append(("aside", "header", "footer"))
        elif tag == "header":
            ctx.append((T[1], T[1], T[2]))
        elif tag == "footer":
            ctx.append((T[2], T[1], T[2]))
        elif tag in ("article", "main"):
            ctx.append((tag, tag, tag))
        elif tag in ("aside", "nav"):
            ctx.append((tag, "header", "footer"))
        else:
            ctx.append(T)  # transparent element: share the state tuple

    def _current_container(self) -> str:
        """Container of the innermost open element (O(1) via _ctx)."""
        return self._ctx[-1][0] if self._ctx else ""

    # -- node emission -------------------------------------------------
    def _flush(self) -> None:
        if not self._buf:
            return
        raw = "".join(self._buf)
        toks = raw.split()
        text = " ".join(toks)
        self._buf = []
        if not text:
            self._buf_link = []
            return
        if self._buf_link:  # most nodes carry no links: skip the rebuild
            link_parts = "".join(self._buf_link).split()
            # len of the normalized link text without building the string
            n_link = sum(map(len, link_parts)) + max(0, len(link_parts) - 1)
            self._buf_link = []
        else:
            n_link = 0
        self._emit(self._block_tag, self._block_depth, text, n_link, toks)

    def _emit(
        self, tag: str, depth: int, text: str, n_link: int, toks=None
    ) -> None:
        if len(self.nodes) >= self.max_nodes:
            return
        # build ONE dict: text_stats' result gains the id fields in place
        # (consumers address fields by name, never by key order)
        rec: Dict[str, Any] = text_stats(text, n_link, toks)
        rec["node_idx"] = len(self.nodes)
        rec["tag"] = tag
        rec["container"] = self._block_container
        rec["depth"] = depth
        rec["text"] = text
        rec["is_fg"] = len(text) > 0
        self.nodes.append(rec)

    # -- tokenizer --------------------------------------------------------
    def feed(self, html: str) -> None:
        """Scan ``html`` with one regex, fire the tag/data events, then
        flush the last node."""
        pos = 0
        n = len(html)
        # bind the per-event callees once: the loop fires ~200+ events per
        # page and each dotted lookup costs a dict probe per event
        handle_data = self.handle_data
        handle_starttag = self.handle_starttag
        handle_endtag = self.handle_endtag
        search = _TOKEN.search
        while pos < n:
            m = search(html, pos)
            stop = n if m is None else m.start()
            if stop > pos:
                data = html[pos:stop]
                handle_data(unescape(data) if "&" in data else data)
            if m is None:
                break
            end_name, start_name, attrs, selfclose = m.group(1, 2, 3, 4)
            pos = m.end()
            if end_name is not None:
                handle_endtag(end_name.lower())
            elif start_name is not None:
                tag = start_name.lower()
                handle_starttag(tag, attrs)
                if tag in _RAWTEXT and not selfclose:
                    # skip raw content to the matching close tag (or to
                    # the end of the document)
                    close = _RAWTEXT[tag](html, pos)
                    gt = -1 if close is None else html.find(">", close.start())
                    pos = n if gt == -1 else gt + 1
                    handle_endtag(tag)
            # else: comment/CDATA/declaration/PI -> ignored
        self._flush()

    # -- events -----------------------------------------------------------
    def handle_starttag(self, tag: str, attrs: str) -> None:
        """``attrs`` is the tag's raw attribute text."""
        kind = _TAG_KIND.get(tag, 0)
        if kind & _K_SKIP:
            self._flush()
            self._skip_depth += 1
            if not kind & _K_VOID:
                self._stack.append(tag)
                self._push_ctx(tag, False)
            return
        boiler = bool(attrs) and _attrs_boiler(attrs)
        if self._skip_depth == 0:
            if kind & _K_MEDIA:
                self._flush()
                self._block_container = self._current_container()
                self._emit(tag, len(self._stack), "", 0)
            elif kind & _K_BLOCK:
                self._flush()
                if tag not in ("br", "hr"):
                    self._block_tag = tag
                    self._block_depth = len(self._stack)
            elif tag == "a":
                self._anchor_depth += 1
        if not kind & _K_VOID:
            self._stack.append(tag)
            self._push_ctx(tag, boiler)
            if kind & _K_BLOCK and self._skip_depth == 0:
                # the block itself may BE a semantic container, or a
                # class/id-flagged boilerplate wrapper
                self._block_container = self._current_container()

    def handle_endtag(self, tag):
        kind = _TAG_KIND.get(tag, 0)
        if kind & _K_VOID:
            return
        stack = self._stack
        # fast path: well-formed nesting closes the top of the stack
        if stack and stack[-1] == tag:
            stack.pop()
            self._ctx.pop()
            if kind & _K_SKIP:
                self._skip_depth = max(0, self._skip_depth - 1)
            elif tag == "a":
                self._anchor_depth = max(0, self._anchor_depth - 1)
        elif tag in stack:
            # pop to the matching open tag (tolerant of malformed nesting)
            while stack:
                top = stack.pop()
                self._ctx.pop()
                if top in SKIP_TAGS:
                    self._skip_depth = max(0, self._skip_depth - 1)
                elif top == "a":
                    self._anchor_depth = max(0, self._anchor_depth - 1)
                if top == tag:
                    break
        if self._skip_depth == 0 and kind & _K_BLOCK:
            self._flush()
            self._block_tag = "body"
            self._block_depth = len(stack)
            self._block_container = self._current_container()

    def handle_data(self, data):
        if self._skip_depth > 0 or not data:
            return
        self._buf.append(data)
        if self._anchor_depth > 0:
            self._buf_link.append(data)


# -- charset sniffing (deterministic, shared by oracle and Spark) -------
#
# Real-crawl pages declare their encoding in <meta charset=...> or
# <meta http-equiv="Content-Type" content="...; charset=...">; hard
# UTF-8 decoding mangles windows-1252/shift-jis/gb2312 pages into
# replacement-char soup.  WHATWG-style sniff: BOM wins, then the first
# meta declaration inside the head window, then UTF-8.  All decodes use
# errors='replace', so malformed bytes are still deterministic.

_SNIFF_WINDOW = 2048
_META_CHARSET = re.compile(
    rb"""<meta[^>]+?(?:charset\s*=\s*["']?\s*([a-zA-Z0-9_.:-]+)"""
    rb"""|content\s*=\s*["'][^"']*?charset=([a-zA-Z0-9_.:-]+))""",
    re.I,
)
#: WHATWG maps these labels away from their IANA meaning; everything
#: else goes through Python's codec alias table.
_CHARSET_OVERRIDES = {
    "iso-8859-1": "windows-1252",  # WHATWG: latin-1 label means cp1252
    "latin-1": "windows-1252",
    "latin1": "windows-1252",
    "ascii": "windows-1252",
    "us-ascii": "windows-1252",
    "utf8": "utf-8",
}


def sniff_charset(raw: bytes) -> str:
    """Codec name for one page's bytes: BOM > meta declaration > utf-8."""
    if raw[:3] == b"\xef\xbb\xbf":
        return "utf-8"
    if raw[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return "utf-16"
    m = _META_CHARSET.search(raw[:_SNIFF_WINDOW])
    if m:
        label = (m.group(1) or m.group(2)).decode("ascii").lower().strip()
        codec = _CHARSET_OVERRIDES.get(label, label)
        try:
            b"x".decode(codec)
        except (LookupError, UnicodeDecodeError):
            return "utf-8"
        return codec
    return "utf-8"


def decode_page_bytes(raw: bytes) -> str:
    """Shared byte->str front door (oracle and Spark parse stage)."""
    return raw.decode(sniff_charset(raw), errors="replace")


def parse_html(
    html: bytes | str, max_nodes: int = 50_000
) -> List[Dict[str, Any]]:
    """Parse one page into ordered node records.

    bytes are decoded via :func:`sniff_charset` (BOM / meta declaration /
    UTF-8 fallback, always errors='replace' — deterministic); the
    max_nodes cap is the giant-page guard (reference lib/dataset.py:139-143
    ``max_width`` analog) so one url always fits one Spark task.
    """
    if isinstance(html, (bytes, bytearray)):
        html = decode_page_bytes(bytes(html))
    collector = _BlockCollector(max_nodes=max_nodes)
    try:
        collector.feed(html)
    except Exception:
        # malformed page: keep whatever was parsed (never fail a batch)
        collector._flush()
    return collector.nodes


NODE_FIELDS = [
    "node_idx",
    "tag",
    "container",
    "depth",
    "text",
    "is_fg",
    "n_chars",
    "n_tokens",
    "n_link_chars",
    "n_punct",
    "n_digits",
    "n_upper",
    "n_alpha",
    "n_stop",
]
