"""XY-cut reading order (kernel/layout.py + pdf.page_text_xy).

The north rule names the layout-parse path explicitly (block
segmentation, XY-cut reading-order); these tests pin the algorithm on
the canonical adversarial case — a title spanning two columns whose
content stream interleaves the columns — plus determinism, the
linear-stream identity (old fixtures must be byte-unchanged), and
totality on garbage.
"""

import pytest

from ocr_pipeline_spark.fixtures.gen_pdfs import (
    build_layout_content,
    build_pdf,
    build_pdf_raw_streams,
)
from ocr_pipeline_spark.kernel.layout import xy_cut
from ocr_pipeline_spark.sources.pdf import (
    page_text_blocks,
    page_text_xy,
    split_pdf_pages,
)
from oracle_pdf import page_text


def test_xy_cut_title_then_columns():
    # title spans the page; two columns below, separated by a gutter
    boxes = [
        (72, 740, 400, 754),   # 0 title
        (320, 700, 420, 712),  # 1 b0
        (72, 700, 170, 712),   # 2 a0
        (320, 686, 420, 698),  # 3 b1
        (72, 686, 170, 698),   # 4 a1
    ]
    assert xy_cut(boxes) == [0, 2, 4, 1, 3]


def test_xy_cut_tight_leading_never_splits_paragraph():
    # 2pt inter-line gaps (12pt type, 14pt leading) stay one group,
    # ordered top-to-bottom
    boxes = [(72, 720 - 14 * i, 200, 732 - 14 * i) for i in range(5)]
    assert xy_cut(boxes) == [0, 1, 2, 3, 4]
    assert xy_cut(list(reversed(boxes))) == [4, 3, 2, 1, 0]


def test_xy_cut_deterministic_on_identical_boxes():
    boxes = [(0, 0, 10, 10)] * 4
    assert xy_cut(boxes) == [0, 1, 2, 3]


def test_two_column_pdf_reads_title_then_columns():
    title = "Quarterly Report"
    col_a = ["alpha one", "alpha two", "alpha three"]
    col_b = ["beta one", "beta two"]
    pdf = build_pdf_raw_streams([build_layout_content(title, col_a, col_b)])
    page = split_pdf_pages(pdf)[0]
    # stream order interleaves the columns — the adversarial premise
    assert page_text(page["content"]).split("\n")[1] == "beta one"
    assert page_text_xy(page["content"]) == "\n".join(
        [title] + col_a + col_b
    )


def test_linear_stream_identity_with_stream_order():
    """Single-column fixtures: XY-cut order == stream order, byte-equal
    (goldens and witnesses built on build_pdf stay valid)."""
    pdf = build_pdf(["Hello world\nSecond line\nThird", "Page two\nMore"])
    for p in split_pdf_pages(pdf):
        assert page_text_xy(p["content"]) == page_text(p["content"])


@pytest.mark.parametrize(
    "junk",
    [
        b"",
        b"\xff\x00garbage",
        b"(unclosed Tj",
        b"1e309 1e309 Td (x) Tj",  # operand overflow -> skipped
        b"BT /F1 0 Tf (z) Tj ET",  # zero font size -> kept at default
    ],
)
def test_positioned_extractor_total_on_garbage(junk):
    page_text_blocks(junk)  # must not raise
    page_text_xy(junk)  # must not raise


def test_huge_coordinates_bounded():
    # crafted coordinates must not hang or blow memory
    ops = " ".join(
        f"1 0 0 1 {x} {y} Tm (w) Tj"
        for x, y in [(1e6, -1e6), (-1e6, 1e6), (0, 0), (1e6, 1e6)]
    )
    out = page_text_xy(f"BT {ops} ET".encode())
    assert out.count("w") == 4


def test_xy_cut_staircase_no_recursion_error():
    """A staircase layout where every cut peels one box nests O(n)
    deep; the worklist implementation must stay total (a recursive
    version blows Python's frame limit near 1500 boxes)."""
    boxes = []
    x = y = 0.0
    big = 100000.0
    for _ in range(1500):
        boxes.append((x, y - 5, x + big, y))
        y -= 50
        boxes.append((x, y - big, x + 5, y))
        x += 50
    order = xy_cut(boxes)
    assert sorted(order) == list(range(len(boxes)))


def test_fallback_equals_page_text_on_show_only_streams():
    """The no-positioning fallback joins the already-extracted block
    texts instead of re-scanning; it must equal page_text exactly on
    streams both parsers can see (single position, TJ arrays, ')."""
    cases = [
        b"",
        b"(one) Tj",
        b"[(a) (b)] TJ",
        b"(x) ' (y) Tj",
        b"BT (only) Tj ET",
    ]
    for c in cases:
        assert page_text_xy(c) == page_text(c), c


def test_page_markdown_xy_reconstructs_headings_and_table():
    from ocr_pipeline_spark.fixtures.gen_pdfs import report_pdf
    from ocr_pipeline_spark.sources.pdf import page_markdown_xy

    url, pdf = report_pdf(42, 0)
    md = page_markdown_xy(split_pdf_pages(pdf)[0]["content"])
    lines = md.split("\n")
    assert lines[0].startswith("# ")            # 18pt title
    assert any(l.startswith("## ") for l in lines)   # 14.5pt heading
    seps = [l for l in lines if l.startswith("|---")]
    assert len(seps) == 1                        # exactly one table
    table_rows = [l for l in lines if l.startswith("| ")]
    assert len(table_rows) >= 3                  # header + >=2 rows
    assert all(l.count("|") == 4 for l in table_rows)  # 3 columns
    # body paragraphs present, unprefixed
    assert any(
        l and not l.startswith(("#", "|")) for l in lines
    )


def test_page_markdown_xy_total_on_garbage():
    from ocr_pipeline_spark.sources.pdf import page_markdown_xy

    for junk in (b"", b"\xff\x00", b"(x", b"BT 1e400 0 Td (a) Tj ET"):
        page_markdown_xy(junk)  # must not raise


# --- Hypothesis properties ----------------------------------------------
from hypothesis import given, settings, strategies as st  # noqa: E402

_box = st.tuples(
    st.floats(-1e4, 1e4), st.floats(-1e4, 1e4),
    st.floats(0, 500), st.floats(0, 40),
).map(lambda t: (t[0], t[1], t[0] + t[2], t[1] + t[3]))


@settings(max_examples=200, deadline=None)
@given(st.lists(_box, max_size=60))
def test_xy_cut_is_permutation(boxes):
    order = xy_cut(boxes)
    assert sorted(order) == list(range(len(boxes)))


_ibox = st.tuples(
    st.integers(-10_000, 10_000), st.integers(-10_000, 10_000),
    st.integers(0, 500), st.integers(0, 40),
).map(lambda t: (t[0], t[1], t[0] + t[2], t[1] + t[3]))


@settings(max_examples=100, deadline=None)
@given(
    st.lists(_ibox, max_size=40),
    st.integers(-100_000, 100_000),
    st.integers(-100_000, 100_000),
)
def test_xy_cut_translation_invariant(boxes, dx, dy):
    """Reading order depends on relative geometry only: translating
    the whole page must not change it.  Integer coordinates so the
    translation is IEEE-exact — with arbitrary floats a gap comparison
    sitting exactly on the threshold can flip by an ulp, which is a
    property of float addition, not of the algorithm."""
    moved = [(x0 + dx, y0 + dy, x1 + dx, y1 + dy) for x0, y0, x1, y1 in boxes]
    assert xy_cut(moved) == xy_cut(boxes)


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=400))
def test_positioned_parser_total_on_random_bytes(data):
    from ocr_pipeline_spark.sources.pdf import (
        page_markdown_xy,
        page_text_blocks,
        page_text_xy,
    )

    page_text_blocks(data)
    page_text_xy(data)
    page_markdown_xy(data)
