"""Parser unit tests (the S3 decode stage, FIXTURES.md §7)."""

from page_segmentation_spark.html_parse import parse_html, text_stats


def test_basic_blocks():
    nodes = parse_html(b"<html><body><p>Hello world</p><p>Second</p></body></html>")
    assert [n["text"] for n in nodes] == ["Hello world", "Second"]
    assert [n["node_idx"] for n in nodes] == [0, 1]
    assert all(n["tag"] == "p" for n in nodes)
    assert nodes[0]["n_chars"] == 11
    assert nodes[0]["n_tokens"] == 2
    assert all(n["is_fg"] for n in nodes)


def test_skip_script_style():
    nodes = parse_html(
        "<body><script>var x='<p>no</p>';</script><style>p{}</style><p>yes</p></body>"
    )
    assert [n["text"] for n in nodes] == ["yes"]


def test_raw_text_skip_after_dotted_capital_i():
    """U+0130 lowers to two code points; text before a <script>/<style>
    must not shift where its raw-text skip ends.  The close tag matches
    ASCII case-insensitively only (U+017F, long s, does not close)."""
    for raw in ("<script>var x=1;</SCRIPT>", "<style>p{}</Style>"):
        nodes = parse_html(
            "<p>" + "İ" * 12 + " title</p>" + raw + "<p>Kept after.</p>"
        )
        assert [n["text"] for n in nodes] == ["İ" * 12 + " title", "Kept after."]
    nodes = parse_html("<script>a</ſcript><p>no</p></script><p>yes</p>")
    assert [n["text"] for n in nodes] == ["yes"]


def test_link_chars_counted():
    nodes = parse_html('<body><p>pre <a href="/x">link text</a> post</p></body>')
    assert len(nodes) == 1
    assert nodes[0]["text"] == "pre link text post"
    assert nodes[0]["n_link_chars"] == len("link text")


def test_media_nodes_empty_text():
    nodes = parse_html('<body><p>t</p><img src="x.png"/><p>u</p></body>')
    tags = [n["tag"] for n in nodes]
    assert tags == ["p", "img", "p"]
    img = nodes[1]
    assert img["text"] == "" and not img["is_fg"] and img["n_chars"] == 0


def test_whitespace_normalized_and_entities():
    nodes = parse_html("<body><p>  a \n\t b &amp; c  </p></body>")
    assert nodes[0]["text"] == "a b & c"


def test_max_nodes_cap():
    html = "<body>" + "".join(f"<p>n{i}</p>" for i in range(100)) + "</body>"
    nodes = parse_html(html, max_nodes=10)
    assert len(nodes) == 10


def test_malformed_html_no_crash():
    nodes = parse_html(b"<body><p>ok<div></p>broken</sp\x00an>")
    assert any(n["text"] == "ok" for n in nodes)


def test_non_utf8_bytes():
    nodes = parse_html(b"<body><p>caf\xff</p></body>")
    assert len(nodes) == 1  # replacement char, no crash


def test_nested_block_flush():
    nodes = parse_html("<body><div>outer <p>inner</p> tail</div></body>")
    texts = [n["text"] for n in nodes]
    assert texts == ["outer", "inner", "tail"]


def test_text_stats():
    s = text_stats("The Quick fox, 42 times!", 4)
    assert s["n_chars"] == 24
    assert s["n_tokens"] == 5
    assert s["n_punct"] == 2  # ',' and '!'
    assert s["n_digits"] == 2
    assert s["n_upper"] == 2  # T, Q
    assert s["n_stop"] == 1  # 'The'
    assert s["n_link_chars"] == 4


def test_text_stats_lone_surrogates_dont_raise():
    """Public-contract regression: lone surrogates (unreachable via the
    parse front-ends but legal inputs to the function) must yield the
    same counts as any other opaque non-letter codepoint, not raise.
    Their surrogatepass UTF-8 encoding (ED-prefixed 3-byte sequences)
    contains no ASCII-class or 0xC3 bytes, so letter/digit/punct counts
    are unchanged vs the text without them."""
    from page_segmentation_spark.html_parse import text_stats

    base = text_stats("Hello, World 42", 0)
    with_surr = text_stats("Hello,\ud800 World 42\udfff", 0)
    for k in ("n_punct", "n_digits", "n_alpha", "n_upper"):
        assert with_surr[k] == base[k], k


def _tuples(html):
    return [
        (n["tag"], n["container"], n["depth"], n["text"])
        for n in parse_html(html)
    ]


#: (html, exact node tuples) for the parser's edge cases
_EDGE_CASES = [
    # '/>' on a non-void tag is ignored: <div/> opens a div and <script/>
    # opens a script whose content never ends
    ("<body><p>a<div/>b</p><script/>c<p>d</p></body>",
     [("p", "", 1, "a"), ("div", "", 2, "b")]),
    # tag names are case-insensitive
    ("<BODY><DIV><P>Up</P></DIV><SCRIPT>x</SCRIPT><Br>z</BODY>",
     [("p", "", 2, "Up"), ("body", "", 1, "z")]),
    # an unterminated comment swallows the rest of the document
    ("<body><p>keep</p><!-- never closed <p>gone</p>", [("p", "", 1, "keep")]),
    # <script> with no closing tag hides the rest of the document
    ("<body><p>before</p><script>var a='<p>x</p>';",
     [("p", "", 1, "before")]),
    # CDATA sections are dropped like comments
    ("<body><p>a<![CDATA[hidden <p>q</p>]]>b</p></body>",
     [("p", "", 1, "ab")]),
    # character references resolve inside text
    ("<body><p>fish &amp; chips &lt;3 &#233;</p></body>",
     [("p", "", 1, "fish & chips <3 é")]),
    # <br> flushes a node but keeps the enclosing block's tag
    ("<body><p>line one<br>line two<br/>three</p></body>",
     [("p", "", 1, "line one"), ("p", "", 1, "line two"),
      ("p", "", 1, "three")]),
    # a '>' inside a quoted attribute value ends the tag early
    ('<body><div title="a>b"><p>x</p></div></body>',
     [("div", "", 1, 'b">'), ("p", "", 2, "x")]),
]


def test_parser_edge_behaviour_pinned():
    for html, want in _EDGE_CASES:
        assert _tuples(html) == want, html


def test_class_id_attribute_names_case_insensitive():
    """Mixed-case class/id attribute names still flag boilerplate."""
    html = (
        '<body><div data-x="1" Id="comments"><p>Hi</p></div>'
        '<div Class="promo"><p>Buy</p></div>'
        '<div cLaSs="article"><p>Body</p></div></body>'
    )
    assert _tuples(html) == [
        ("p", "aside", 2, "Hi"),
        ("p", "aside", 2, "Buy"),
        ("p", "", 2, "Body"),
    ]
