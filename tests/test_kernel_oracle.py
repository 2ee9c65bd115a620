"""C5 `normalize_bullets` and `compute_spans` against the versions they
replaced (tests/oracle_kernel.py): the same output on hand-picked edge
cases, the fixture corpus and Hypothesis strings."""

from hypothesis import given, settings, strategies as st

from ocr_pipeline_spark.fixtures.gen_pages import generate_rows
from ocr_pipeline_spark.kernel.blocks import render_blocks
from ocr_pipeline_spark.kernel.cleaning import normalize_bullets
from ocr_pipeline_spark.kernel.page import compute_spans, extract_page
from oracle_kernel import compute_spans_oracle, normalize_bullets_oracle

BULLET_CASES = [
    "",
    "• one\n  • two",
    "○ sub",
    "•\n  • x",  # the first match eats the next line's indent
    "•\n•\n○\n\n○ x",
    "a • b\n• c",
    "  \n \t• x\n○○ y\n x ○",
    "••○•",
    "　• ideographic space\n\x1c○ separator",
    "\r• cr is not a line start • nor is u2028",
    "• \n\n\n",
    "\n\n  ○  \n  •",
]


def test_bullet_edge_cases_match_oracle():
    for text in BULLET_CASES:
        assert normalize_bullets(text) == normalize_bullets_oracle(text), repr(text)
    assert normalize_bullets("•\n  • x") == "- • x"


@settings(max_examples=1000, deadline=None)
@given(st.text(alphabet="•○ \t\n\r　\x1c\x85 ab-", max_size=40))
def test_bullets_match_oracle(text):
    assert normalize_bullets(text) == normalize_bullets_oracle(text)


SPAN_CASES = [
    "",
    "\n\n\n",
    "\t---",
    "  ---  \n",
    "----\n\n---\n\nx---",
    "- a\n\n* b\n\n12. c\n\n-x\n\n12 . d\n\n٣. e",
    "```\ncode\n\nmore\n```\n\nafter\n\n```never closed\n\nx",
    "<!-- meta -->\n\n<p>\n\n# h\n\n![f](x)\n\n>q\n\n> quote",
    "| a | b |\n| c | d |\n\na | b\nc | d | e",
]


def test_span_edge_cases_match_oracle():
    for md in SPAN_CASES:
        assert compute_spans(md) == compute_spans_oracle(md), repr(md)


def test_spans_match_oracle_on_fixture_corpus():
    for row in generate_rows(300, 23):
        md = extract_page(row["html"]).markdown
        assert compute_spans(md) == compute_spans_oracle(md)


def test_bullets_match_oracle_on_fixture_corpus():
    for row in generate_rows(300, 24):
        blocks, _stats = render_blocks(row["html"])
        raw = "\n\n".join(b.text for b in blocks)
        assert normalize_bullets(raw) == normalize_bullets_oracle(raw)


_md_piece = st.sampled_from(
    ["\n", "\n\n", "```", "---", "- ", "* ", "1. ", "٣", ". ", "|", "<!--",
     "#", "![", "> ", ">", " ", "\t", "　", "x", "word"]
)


@settings(max_examples=1000, deadline=None)
@given(st.lists(_md_piece, max_size=30).map("".join))
def test_spans_match_oracle(md):
    assert compute_spans(md) == compute_spans_oracle(md)
