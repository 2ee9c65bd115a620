"""The package's one-pass scanner (`dom._parse_html_fast`) against the
two-tier scanner it replaced (tests/oracle_scanner.py): the same tree
node for node — tags, attribute dicts, text chunks — and the same
main-root `hints`, on the fixture corpus, hand-picked edge cases and a
Hypothesis grammar of malformed markup.  Also: pathological inputs never
reach the stdlib fallback, and floods of unique names leave every memo
within its bounds."""

import gzip

import pytest
from hypothesis import given, settings, strategies as st

from ocr_pipeline_spark.fixtures.gen_pages import generate_rows
from ocr_pipeline_spark.kernel import blocks, dom
from oracle_scanner import dump, parse_html_oracle

OPTS = ({}, {"hrefs": True, "metadata": True})


def _assert_same(html):
    for opts in OPTS:
        assert dump(dom._parse_html_fast(html, **opts)) == dump(
            parse_html_oracle(html, **opts)
        ), (html[:200], opts)


def test_fixture_corpus_matches_oracle():
    for row in generate_rows(400, 21) + generate_rows(200, 22, cross_links=True):
        _assert_same(dom.decode_html(row["html"]))


EDGE_CASES = [
    "",
    "plain text only &amp; more",
    "<p>a &amp; b</p>",
    "<p>a < b and c > d</p>",
    "<<p>>x<</p>",
    "</ >x</3>y< p>z",
    "&lt;<p>&amp;<b>&#65;&</b>&bogus;<",
    "<script>if (a<b) {x='</div>'}</script><p>keep</p>",
    "<SCRIPT>a</SCRIPT><p>x</p><script>b</script>",
    "<script>a</SCRIPT><p>x</p><Style>q</STYLE >z",
    "<script>never closed <p>x",
    "<script>a</scripts>b</script>c",
    "<scripts>x</scripts>",
    "<title>T &amp; <b>x</b></title><textarea><p>raw</textarea >after",
    "İİİ<script>a</SCRİPT></Script>tail<p>z",
    "<!-- comment --><p>x</p>a<!--x-->b",
    "<!-- open <p>never closed",
    "<p>1<!-- c\n",
    "<!----><!-->x<!--->y",
    "<![CDATA[junk]]><p>y</p><![CDATA[ open",
    "<!DOCTYPE html><?php echo ?><p>z</p><?xml",
    "<br/><img src='a'/><div/><p>x</p>",
    '<div CLASS="Sidebar">drop</div><p>keep</p>',
    "<p title='a>b'>tricky</p><a href=\"x>y\" title='t'>q</a>",
    "<a b=\"c'>d</a>",
    "<img src=\"\"xora\"><p>mangled</p>",
    "<a href='x\"y'>1</a><a href=\"x'y\">2</a><a href=x\"y>3</a>",
    "<div class=\"a' role=main>q</div><main>m</main>",
    "<p>x</p\n><div\tid=content\n>c</div>",
    "<div><p>a<div>b</p>c</div>",
    "</br><br></br><hr></hr>",
    "<h1>open heading<div>block</div>",
    "<table><tr><td>1<td>2<tr><th>3</table>",
    "<ul><li>a<li>b<ol><li>c</ol></ul>",
    "<article role=main><p>a</p></article><section id=MAIN>s</section>",
    "\x00<p>\x00nul</p>\x00<\x00div>",
    # '<' after the last '>': only a comment or CDATA starts there, and a
    # comment, CDATA or raw-text element from before it runs to the end
    "a<b " * 40,
    "<p>x</p>" + "a<b " * 20 + "</p c",
    "<p>x</p>a<b c<!-- open <b d",
    "<p>x</p>a<b <![CDATA[ open <b",
    "<p>x</p>a<!--c-- <b\n",
    "<!-- open > a<b c",
    "<![CDATA[ x > a<b c",
    "<p>1<!-- c > x<b\n",
    "<script>x > a<b",
    "<script>x > a</script <b",
    "<p>x</p><script>y</script",
    "<SCRIPT>x</SCRIPT> a<b c",
    "<script>x</SCRIPT>" + "a<b " * 20 + "<!--c",
    "<style>x</STYLE><p>y</p>a<b <![CDATA[z",
    "<p title='a>b' a<b",
    "x<b 'y>z' <c",
    "<p>a</p>\n<b\n",
    # '<name' runs up to a quote that never closes, with a '>' after it:
    # every tag opened there fails; a comment, declaration, PI or an
    # earlier raw-text element may still run across the quote
    "a<b " * 300 + '">',
    "a<b " * 300 + "'>",
    "<b x=" * 240 + '">',
    "<p>x</p>" + "a</b " * 200 + "'b\"c>d",
    "<p title='t'>a<b <!x a<b \"y>z",
    "a<b <?p a<b 'y>z",
    "<script>a<b </script <b </script \"x>y<p>z",
    "<style>a</style <p>b<b \"c>d",
    "<p title=\"a<b \">c<b d='e>f",
]


@pytest.mark.parametrize("html", EDGE_CASES)
def test_edge_cases_match_oracle(html):
    _assert_same(html)


def test_deep_nesting_matches_oracle():
    for html in (
        "<div>" * 5000 + "x" + "</div>" * 5000,
        "<span>" * 5000 + "open",
        "<p><b>" * 2500 + "mixed",
        "<li>" * 5000,
        "<table><tr><td>" * 1700,
    ):
        _assert_same(html)


# --- Hypothesis grammar -----------------------------------------------------
_NAMES = ["p", "P", "div", "DiV", "a", "b", "td", "tr", "li", "ul", "h1",
          "main", "article", "section", "body", "img", "br", "script",
          "SCRIPT", "Style", "title", "textarea", "x-y", "svg:rect"]
_ATTRS = [
    "", " class=nav", ' id="content"', " role='main'", ' alt="a>b"',
    " href='x>y' title=\"t\"", ' data-x=\'i"s\'', ' src=""xora"', " a='b\"c",
    ' title="x>y\'', ' class="u"/', " =junk", ' class="a\'b" id=\'c"d\'',
]
_PIECES = [
    "<", "< ", "<<", "</", "</ >", "<3", ">", "&", "&amp;", "&lt;<", "&#60;",
    "&bogus;", "<!-- c -->", "<!--", "<!-->", "<![CDATA[x]]>", "<![CDATA[",
    "<!DOCTYPE html>", "<?pi?>", "</script>", "</SCRIPT>", "</script",
    "</STYLE >", "</title x>", "\n", " ", "\x00", "İ", "ſ",
]
_start = st.tuples(st.sampled_from(_NAMES), st.sampled_from(_ATTRS)).map(
    lambda t: f"<{t[0]}{t[1]}>"
)
_end = st.sampled_from(_NAMES).map(lambda name: f"</{name}>")
_word = st.text(alphabet="abcxyz &;<>\"'=/!-", max_size=6)
_soup = st.lists(
    st.one_of(_start, _end, st.sampled_from(_PIECES), _word), max_size=40
).map("".join)


@given(_soup)
@settings(max_examples=400, deadline=None)
def test_grammar_matches_oracle(html):
    _assert_same(html)


# --- robustness ---------------------------------------------------------------
def test_pathological_bytes_never_fall_back(monkeypatch):
    fallbacks = []

    def stdlib(html):
        fallbacks.append(html[:80])
        return dom.Node("#document")

    monkeypatch.setattr(dom, "_parse_html_stdlib", stdlib)
    huge = b"v" * (3 << 20)
    cases = [
        b'<div class="' + huge + b'">x</div><p>after</p>',
        b"<img alt='" + huge,
        b"<p title=" + huge + b">unquoted</p>",
        b"<p>a\x00b</p>\x00<\x00div>\x00</p\x00>",
        b"\x1f\x8b not gzip at all <p>x</p>",
        gzip.compress(b"<p>truncated gzip stream</p>" * 50)[:40],
        b"<script>" + huge,
        # raw-text bodies are never tokenized as markup, so '<a' with no
        # '>' after it cannot make each '<' scan to the end
        b"<script>" + b"a<" * 200_000,
        b"<STYLE>" + b"a<" * 200_000 + b"</STYLE><p>after</p>",
        b"<SCRIPT>" + huge + b"</Script>" + b"\x00" * (1 << 20),
        b"<!--" + b"-" * 100_000,
        b"<" * 100_000,
    ]
    for raw in cases:
        dom.parse_html(raw)
        blocks.render_blocks(raw)
    assert fallbacks == []


def test_tag_openers_after_the_last_gt_parse_in_linear_time():
    """Each '<name' after the last '>' once scanned its attrs to the end
    of the document: "a<b " * n took 5.4 s at 24 KB.  So did each one
    before a quote that never closes, with a '>' after it: 18.4 s at
    48 KB."""
    import time

    n = 12_000  # 48 KB
    for html in (
        "a<b " * n,
        "<p>x</p>" + "a</b " * n,
        "<SCRIPT>x</SCRIPT>" + "a<b " * n,
        "a<b " * n + '">',
        "a<b " * n + "'>",
        "<b x=" * (n * 4 // 5) + '">',
    ):
        t0 = time.perf_counter()
        dom.parse_html(html)
        assert time.perf_counter() - t0 < 0.5, html[:40]


def test_memos_stay_bounded_under_unique_floods(monkeypatch):
    monkeypatch.setattr(dom, "_ATTRS_MEMO", {})
    monkeypatch.setattr(dom, "_TAG_NAMES", {})
    monkeypatch.setattr(blocks, "_CHROME_MEMO", {})
    n = dom._ATTRS_MEMO_MAX + 1000
    flood = "".join(f'<div class="c{i} nav" id="i{i}">t</div>' for i in range(n))
    tags = "".join(f"<t{i}>x</t{i}>" for i in range(dom._TAG_NAMES_MAX + 1000))
    long = "".join(
        f'<section class="{i}{"k" * 3000}" role="{"r" * 2000}">l</section>'
        for i in range(50)
    )
    long_tag = "<a" + "b" * 3000 + ">x"
    blocks.render_blocks("<body>" + flood + tags + long + long_tag + "</body>")

    assert len(dom._ATTRS_MEMO) <= dom._ATTRS_MEMO_MAX
    assert all(len(k) <= dom._ATTRS_MEMO_KEY_MAX for k in dom._ATTRS_MEMO)
    assert len(dom._TAG_NAMES) <= dom._TAG_NAMES_MAX
    assert all(len(k) <= dom._TAG_NAMES_KEY_MAX for k in dom._TAG_NAMES)
    assert 0 < len(blocks._CHROME_MEMO) <= blocks._CHROME_MEMO_MAX
    assert all(
        sum(map(len, k)) <= blocks._CHROME_MEMO_KEY_MAX for k in blocks._CHROME_MEMO
    )

