"""DOM tokenizer + block segmentation/markdown rendering tests."""

from ocr_pipeline_spark.kernel.blocks import render_blocks, select_main_root
from ocr_pipeline_spark.kernel.dom import parse_html


def _markdown(html):
    blocks, _ = render_blocks(html)
    return "\n\n".join(b.text for b in blocks)


# --- parser robustness ---------------------------------------------------
def test_unclosed_tags_parse():
    doc = parse_html("<html><body><p>one<p>two</body>")
    paras = list(doc.find_all("p"))
    assert len(paras) == 2
    assert paras[0].text().strip() == "one"
    assert paras[1].text().strip() == "two"


def test_stray_end_tags_ignored():
    doc = parse_html("<body></div><p>x</p></span></body>")
    assert [n.text() for n in doc.find_all("p")] == ["x"]


def test_entities_decoded():
    assert "A & B < C" in _markdown("<body><p>A &amp; B &lt; C</p></body>")


def test_bytes_input_with_invalid_utf8():
    md = _markdown(b"<body><p>caf\xc3\xa9 \xff ok</p></body>")
    assert "café" in md


# --- block rendering ---------------------------------------------------
def test_headings_and_paragraphs():
    md = _markdown("<body><h1>Title</h1><h2>Sub</h2><p>Body text.</p></body>")
    assert md == "# Title\n\n## Sub\n\nBody text."


def test_inline_formatting():
    md = _markdown("<body><p>a <strong>b</strong> <em>c</em> <code>d</code></p></body>")
    assert md == "a **b** *c* `d`"


def test_nested_lists():
    html = "<body><ul><li>one<ul><li>inner</li></ul></li><li>two</li></ul></body>"
    assert _markdown(html) == "- one\n  - inner\n- two"


def test_ordered_list_numbering():
    html = "<body><ol><li>a</li><li>b</li><li>c</li></ol></body>"
    assert _markdown(html) == "1. a\n2. b\n3. c"


def test_table_rendering():
    html = (
        "<body><table><thead><tr><th>h1</th><th>h2</th></tr></thead>"
        "<tbody><tr><td>a</td><td>b</td></tr><tr><td>c</td><td>d</td></tr></tbody>"
        "</table></body>"
    )
    md = _markdown(html)
    assert md == (
        "| h1 | h2 |\n| --- | --- |\n| a | b |\n| c | d |"
    )


def test_implicitly_closed_table_rows():
    html = "<body><table><tr><td>a<td>b<tr><td>c<td>d</table></body>"
    md = _markdown(html)
    assert "| a | b |" in md and "| c | d |" in md


def test_layout_table_is_transparent():
    html = "<body><table><tr><td><p>real content here</p></td></tr></table></body>"
    md = _markdown(html)
    assert md == "real content here"
    _, stats = render_blocks(html)
    assert stats.n_data_tables == 0


def test_blockquote_and_code():
    html = "<body><blockquote>wise\nwords</blockquote><pre>x = 1\ny = 2</pre></body>"
    md = _markdown(html)
    assert "> wise words" in md
    assert "```\nx = 1\ny = 2\n```" in md


def test_figure_with_caption():
    html = (
        '<body><figure><img src="a.png" alt="A chart"/>'
        "<figcaption>Fig 1. Results</figcaption></figure></body>"
    )
    md = _markdown(html)
    assert "![A chart](figures/1)" in md
    assert "*Fig 1. Results*" in md


def test_figure_numbering_is_sequential():
    html = '<body><img src="a"/><p>t</p><img src="b"/></body>'
    md = _markdown(html)
    assert "figures/1" in md and "figures/2" in md


# --- boilerplate stripping ------------------------------------------------
BOILER = (
    "<html><head><script>var x;</script><style>.a{}</style></head><body>"
    "<nav><a href='/'>Home</a><a href='/b'>B</a></nav>"
    "<header><h1>Site名</h1></header>"
    '<div class="cookie-banner">We use cookies <a href="#">accept</a></div>'
    '<div id="content"><h1>Real Title</h1><p>Main paragraph with enough words '
    "to be obviously content and not chrome.</p></div>"
    '<aside class="sidebar"><a href="/x">x</a></aside>'
    "<footer>© 2024 <a href='/legal'>legal</a></footer>"
    "</body></html>"
)


def test_boilerplate_removed_main_kept():
    md = _markdown(BOILER)
    assert "Real Title" in md
    assert "Main paragraph" in md
    assert "Home" not in md
    assert "cookies" not in md
    assert "©" not in md
    assert "var x" not in md


def test_main_root_selection_prefers_main_tag():
    html = "<body><div><p>outside</p></div><main><p>inside main</p></main></body>"
    root = select_main_root(parse_html(html))
    assert root.tag == "main"
    assert _markdown(html) == "inside main"


def test_link_farm_paragraph_dropped():
    html = (
        "<body><p><a href='1'>download now</a> <a href='2'>click here</a> "
        "<a href='3'>free stuff</a></p>"
        "<p>This sentence is genuine readable content with just one "
        "<a href='x'>link</a> inside a lot of prose.</p></body>"
    )
    md = _markdown(html)
    assert "download now" not in md
    assert "genuine readable content" in md


def test_role_navigation_removed():
    html = '<body><div role="navigation"><a href="/">nav nav</a></div><p>keep.</p></body>'
    assert _markdown(html) == "keep."


# --- stats ---------------------------------------------------------------
def test_stats_counts():
    _, stats = render_blocks(BOILER)
    assert stats.n_data_tables == 0
    assert stats.n_figures == 0
    assert stats.text_chars > 20


def test_diagram_pre_detected():
    html = "<body><pre>[Start] --> [Work] --> [End]\n[Work] --> [Retry]</pre></body>"
    blocks, stats = render_blocks(html)
    assert stats.n_diagrams == 1
    assert blocks[0].kind == "diagram"


def test_plain_pre_is_code():
    html = "<body><pre>def f():\n    return 1</pre></body>"
    blocks, stats = render_blocks(html)
    assert stats.n_diagrams == 0
    assert blocks[0].kind == "code"


# --- fast tokenizer equivalence -------------------------------------------
def test_fast_tokenizer_equivalence_on_corpus():
    """The regex scanner and stdlib html.parser must yield identical
    extraction output over the fixture corpus (dom.parse_html contract)."""
    from ocr_pipeline_spark.fixtures.gen_pages import generate_rows
    from ocr_pipeline_spark.kernel import dom

    def rendered(root):
        r = _Renderer()
        r._walk_children(select_main_root(root))
        return "\n\n".join(b.text for b in r.blocks)

    from ocr_pipeline_spark.kernel.blocks import _Renderer

    for p in generate_rows(400, 13):
        h = p["html"].decode()
        assert rendered(dom._parse_html_fast(h)) == rendered(
            dom._parse_html_stdlib(h)
        ), p["url"]


def test_fast_tokenizer_edge_cases():
    from ocr_pipeline_spark.kernel import dom

    cases = [
        "<p>a &amp; b</p>",
        "<p>a < b and c > d</p>",
        "<script>if (a<b) {x='</div>'}</script><p>keep</p>",
        "<!-- comment --><p>x</p>",
        "<![CDATA[junk]]><p>y</p>",
        "<?php echo ?><p>z</p>",
        "<br/><img src='a'/>",
        '<div CLASS="Sidebar">drop</div><p>keep</p>',
        "<p title='a>b'>tricky</p>",
        "<p>trunc",
        "<p>bad & entity &fake; &#65;</p>",
        "<style>.a{content:'<'}</style><p>s</p>",
        "<textarea><p>not a tag</p></textarea><p>after</p>",
    ]
    from ocr_pipeline_spark.kernel.blocks import _Renderer

    def rendered(root):
        r = _Renderer()
        r._walk_children(select_main_root(root))
        return "\n\n".join(b.text for b in r.blocks)

    for h in cases:
        assert rendered(dom._parse_html_fast(h)) == rendered(
            dom._parse_html_stdlib(h)
        ), h


# --- charset sniffing --------------------------------------------------------
def test_decode_html_charsets():
    from ocr_pipeline_spark.kernel.dom import decode_html

    # plain UTF-8
    assert decode_html("café".encode("utf-8")) == "café"
    # UTF-8 BOM stripped
    assert decode_html(b"\xef\xbb\xbf<p>x</p>") == "<p>x</p>"
    # UTF-16 BOMs
    assert decode_html("<p>héllo</p>".encode("utf-16")) == "<p>héllo</p>"
    # meta charset declaration honored (cp1252 é = 0xe9)
    page = b"<html><head><meta charset=windows-1252></head><body>caf\xe9</body>"
    assert "café" in decode_html(page)
    # http-equiv style declaration
    page2 = (b'<meta http-equiv="Content-Type" '
             b'content="text/html; charset=iso-8859-1">caf\xe9')
    assert "café" in decode_html(page2)
    # invalid UTF-8 without declaration -> cp1252 fallback, never raises
    assert "café" in decode_html(b"<p>caf\xe9</p>")
    # unknown charset label -> falls back gracefully
    assert decode_html(b"<meta charset=bogus-enc><p>ok</p>").endswith("<p>ok</p>")
    # declared utf-8 stays on the strict-utf8 fast path
    assert decode_html(b"<meta charset=utf-8><p>a</p>").endswith("<p>a</p>")


def test_extract_page_non_utf8_end_to_end():
    from ocr_pipeline_spark.kernel import extract_page

    page = (b"<html><head><meta charset=windows-1252></head>"
            b"<body><main><h1>R\xe9sum\xe9</h1><p>caf\xe9 cr\xe8me.</p>"
            b"</main></body></html>")
    md = extract_page(page).markdown
    assert "Résumé" in md and "café crème." in md


def test_decode_html_gzip_payload():
    import gzip

    from ocr_pipeline_spark.kernel import extract_page
    from ocr_pipeline_spark.kernel.dom import decode_html

    html = "<body><main><h1>Zipped</h1><p>compressed café page.</p></main></body>"
    gz = gzip.compress(html.encode("utf-8"))
    assert decode_html(gz) == html
    md = extract_page(gz).markdown
    assert "Zipped" in md and "compressed café page." in md
    # corrupt gzip header degrades to as-is bytes, never raises
    assert isinstance(decode_html(b"\x1f\x8b broken"), str)


def test_main_root_hints_match_traversal():
    """The fast tokenizer's parse-time main-root hints must resolve to
    the same node the pre-order traversal picks, across every priority
    tier and the elif subtleties (role=main beats content-id; an
    <article> with attrs is never role-checked)."""
    cases = [
        "<body><div id=content><p>c</p></div><main><p>m</p></main>"
        "<article><p>a</p></article></body>",
        "<body><article><p>first</p></article><article><p>second</p>"
        "</article></body>",
        "<body><div role=main><p>r</p></div><div id=content><p>c</p>"
        "</div></body>",
        "<body><section id=CONTENT><p>s</p></section></body>",
        "<body><div id=post><p>p</p></div></body>",
        "<body><p>bare body</p></body>",
        "<p>no body at all</p>",
        # role=main claimed first: the same node must not double as
        # content_div; a later content-id div still qualifies
        "<body><div role=main id=content><p>rm</p></div>"
        "<div id=main-content><p>cd</p></div></body>",
        # article carrying attrs: the elif chain skips its role check
        "<body><article role=main><p>a</p></article></body>",
        "",
    ]
    for html in cases:
        fast = parse_html(html)
        assert getattr(fast, "hints", None) is not None
        hinted = select_main_root(fast)
        fast.hints = None  # force the traversal on the SAME tree
        walked = select_main_root(fast)
        assert hinted is walked, html
