"""Property-based spot checks (SURVEY.md §5.2.6, hypothesis):
cleaning idempotence, span validity, no-invented-text."""

import re

from hypothesis import given, settings, strategies as st

from ocr_pipeline_spark.kernel.cleaning import clean_text
from ocr_pipeline_spark.kernel.page import compute_spans, extract_page

# text fragments that exercise the cleaning chain's state machines
_fragment = st.sampled_from(
    [
        "plain sentence here.",
        "| a | b |",
        "| a | b |\n| c | d |",
        "• bullet",
        "○ ring",
        "42",
        "123456",
        "repeat me",
        "```\ncode\n```",
        "# heading",
        "<table></table>",
        "<|im_end|>",
        "",
        "   ",
        "word " * 30,
    ]
)
_text = st.lists(_fragment, min_size=0, max_size=12).map("\n\n".join)


# NOTE: the reference chain is NOT idempotent on arbitrary text — C7's
# near-dup removal changes paragraph adjacency, which can expose new
# collapses on a second pass (same in the reference implementation,
# stage2_ocr.py:275-346).  The property that actually matters is
# stability on the extractor's own output, tested below over the
# fixture corpus.
def test_cleaning_stable_on_extractor_output():
    from ocr_pipeline_spark.fixtures.gen_pages import generate_rows
    from ocr_pipeline_spark.kernel.page import extract_body

    for p in generate_rows(200, 7):
        body, _, _, _ = extract_body(p["html"])
        assert clean_text(body) == body


@given(_text)
@settings(max_examples=200, deadline=None)
def test_cleaning_never_triples_blank_lines(text):
    assert "\n\n\n" not in clean_text(text)


@given(st.text(alphabet=st.characters(codec="utf-8"), max_size=400))
@settings(max_examples=150, deadline=None)
def test_cleaning_total_on_arbitrary_text(text):
    out = clean_text(text)
    assert isinstance(out, str)


_html_bits = st.sampled_from(
    [
        "<p>{}</p>", "<h1>{}</h1>", "<div>{}</div>", "<li>{}</li>",
        "<td>{}</td>", "<b>{}", "{}", "<table><tr><td>{}</td></tr>",
        "<pre>{}</pre>", "<blockquote>{}</blockquote>", "<ul><li>{}",
        "<a href='x'>{}</a>", "<img src='{}'>", "<!-- {} -->",
        # quoted-attr shapes that route through the scanner's quote
        # fast path and its fallbacks: '>' inside values, mixed quote
        # styles, unquoted attrs, self-closing-with-attrs
        '<div class="a b">{}</div>', "<span id='s1'>{}</span>",
        '<a href="x>y" title=\'t\'>{}</a>', "<td colspan=2>{}</td>",
        '<img src="{}" alt="pic">', '<div data-x=\'i"s\'>{}</div>',
        '<P CLASS="U">{}</P>',
    ]
)
_word = st.text(
    alphabet="abcdefghijklmnop qrstuvwxyz.!?", min_size=0, max_size=30
)
_html = st.lists(
    st.tuples(_html_bits, _word).map(lambda t: t[0].format(t[1])),
    min_size=0, max_size=20,
).map("".join)


@given(_html)
@settings(max_examples=200, deadline=None)
def test_extraction_total_and_spans_valid(html):
    r = extract_page(html.encode())
    for s in r.spans:
        assert 0 <= s["start"] < s["end"] <= len(r.markdown)
        assert r.markdown[s["start"]:s["end"]].strip()


@given(_html)
@settings(max_examples=100, deadline=None)
def test_no_invented_words(html):
    """Every alphabetic word in the output appears in the source's
    visible text (adjacent inline text legitimately fuses, as in
    browsers).  Visible text comes from the INDEPENDENT stdlib
    html.parser tree — a naive <[^>]*> stripper mis-cuts quoted attr
    values containing '>' (e.g. href="x>y") and would flag correct
    output as invented."""
    from ocr_pipeline_spark.kernel.dom import _parse_html_stdlib

    r = extract_page(html.encode(), describe=False)
    if not r.markdown:
        return
    body = r.markdown.split("-->", 1)[-1]
    visible = _parse_html_stdlib(html.lower()).text(" ")
    visible_fused = re.sub(r"\s+", "", visible)
    allowed = {"figure", "figures", "page", "pic"}
    for w in re.findall(r"[a-z]+", body.lower()):
        assert w in allowed or w in visible or w in visible_fused, (w, html)


def test_spans_cover_all_non_blank_text():
    html = b"<body><main><h1>T</h1><p>one.</p><p>two.</p></main></body>"
    r = extract_page(html)
    covered = set()
    for s in r.spans:
        covered.update(range(s["start"], s["end"]))
    for i, ch in enumerate(r.markdown):
        if not ch.isspace():
            assert i in covered


@given(_html)
@settings(max_examples=200, deadline=None)
def test_tokenizer_equivalence_property(html):
    from ocr_pipeline_spark.kernel import dom
    from ocr_pipeline_spark.kernel.blocks import _Renderer, select_main_root

    def rendered(root):
        r = _Renderer()
        r._walk_children(select_main_root(root))
        return "\n\n".join(b.text for b in r.blocks)

    assert rendered(dom._parse_html_fast(html)) == rendered(
        dom._parse_html_stdlib(html)
    )


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs",), max_codepoint=0x2FF
            ),
            min_size=0, max_size=120,
        ),
        min_size=1, max_size=5,
    ),
    st.booleans(),
)
def test_pdf_split_text_roundtrip_property(texts, compress):
    from ocr_pipeline_spark.fixtures.gen_pdfs import build_pdf
    from ocr_pipeline_spark.sources.pdf import page_text, split_pdf_pages

    # the builder emits one text op per LINE; normalize like it does
    normd = ["\n".join(l for l in t.split("\n")) for t in texts]
    pdf = build_pdf(normd, compress=compress)
    pages = split_pdf_pages(pdf)
    assert [p["page_num"] for p in pages] == list(range(1, len(texts) + 1))
    for text, page in zip(normd, pages):
        # extractor joins non-empty show strings with \n
        expect = "\n".join(l for l in text.split("\n") if l != "")
        assert page_text(page["content"]) == expect


@settings(max_examples=80, deadline=None)
@given(st.binary(min_size=0, max_size=400))
def test_pdf_split_never_crashes_on_garbage(data):
    from ocr_pipeline_spark.sources.pdf import page_text, split_pdf_pages

    for page in split_pdf_pages(b"%PDF-" + data):
        page_text(page["content"])
    split_pdf_pages(data)
