"""A3 boundary merge + A4 document assembly tests
(semantics from reference src/stage2_ocr.py:474-629)."""

from ocr_pipeline_spark.kernel.assemble import (
    assemble_document,
    ends_complete,
    merge_page_boundaries,
)


# --- _ends_complete graft ---------------------------------------------------
def test_sentence_enders_complete():
    for ch in ".!?:)]”":
        assert ends_complete("some text" + ch)


def test_code_fence_and_heading_complete():
    assert ends_complete("```\nx\n```")
    assert ends_complete("para\n## Heading")


def test_midsentence_incomplete():
    assert not ends_complete("this sentence just stops mid")
    assert ends_complete("")


# --- boundary merge ---------------------------------------------------------
def _page(n, content):
    return f"<!-- Page {n} | Type: text | Confidence: 90% | Method: m -->\n\n{content}"


def test_fragment_carried_to_next_page():
    pages = [_page(1, "First sentence.\nThe quick brown fox jumps over the"),
             _page(2, "lazy dog. Second page continues.")]
    merged = merge_page_boundaries(pages)
    assert merged[0].endswith("First sentence.")
    assert "jumps over the lazy dog." in merged[1]


def test_complete_page_not_touched():
    pages = [_page(1, "All done here."), _page(2, "Next page.")]
    assert merge_page_boundaries(pages) == pages


def test_structural_lines_never_carried():
    for fragment in ("# Heading no end", "- list item no end", "| a | b",
                     "```", "*emph start", "> quote start"):
        pages = [_page(1, f"Intro.\n{fragment}"), _page(2, "Continuation.")]
        merged = merge_page_boundaries(pages)
        assert fragment in merged[0]
        assert merged[1].endswith("Continuation.")


def test_single_page_untouched():
    pages = [_page(1, "only page mid")]
    assert merge_page_boundaries(pages) == pages


def test_last_page_never_carries_forward():
    pages = [_page(1, "Complete."), _page(2, "trailing fragment mid")]
    merged = merge_page_boundaries(pages)
    assert "trailing fragment mid" in merged[1]


# --- assembly ---------------------------------------------------------------
def test_document_assembly_layout():
    pages = [_page(1, "Page one."), "", _page(3, "Page three.")]
    doc = assemble_document(pages, "report.pdf", n_figures=2, diagrams_used=1)
    assert doc.startswith("# report.pdf\n")
    assert "*Converted using DOM-Heuristic (1 diagrams) + MarkdownKernel*" in doc
    assert "*Pages: 3 | Figures: 2*" in doc
    assert "\n\n---\n\n" in doc  # page separator
    assert "Page one." in doc and "Page three." in doc


def test_document_assembly_no_diagrams():
    doc = assemble_document([_page(1, "x.")], "d")
    assert "*Converted using DOM-Heuristic + MarkdownKernel*" in doc
