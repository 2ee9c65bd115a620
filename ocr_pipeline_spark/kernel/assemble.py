"""Per-document ordered assembly (A3/A4).

Graft of the reference's ``generate_markdown`` + ``merge_page_boundaries``
(reference src/stage2_ocr.py:474-629).  For the HTML corpus a
document is a single page and assembly degenerates to identity, but the
multi-page path (PDF-style documents split across rows with a page
number) ships and is exercised by tests: pages are sorted by page
number, boundary fragments are carried across pages, and the document
gets a header + ``---`` separators.

Everything here is an ordered fold over one document's pages — in Spark
it runs inside ``groupBy(doc).applyInPandas`` (operators/assembly_op.py),
never across documents, so it stays pure and partition-invariant.
"""

from __future__ import annotations

import re

CONVERTER_NAME = "DOM-Heuristic + MarkdownKernel"

_LIST_ITEM_RE = re.compile(r"^[-*\d]+[.)]\s")
# last-line prefixes that must never be carried across a page boundary
# (ref stage2_ocr.py:583-589)
_NO_CARRY_PREFIXES = ("#", "-", "|", "```", "*", ">")


def ends_complete(text: str) -> bool:
    """Does the text end at a sentence/structural boundary?
    (ref stage2_ocr.py:608-629)"""
    stripped = text.rstrip()
    if not stripped:
        return True
    last_char = stripped[-1]
    if last_char in ".!?:)]”":
        return True
    if stripped.endswith("```"):
        return True
    last_line = stripped.split("\n")[-1].strip()
    if last_line.startswith("#"):
        return True
    if _LIST_ITEM_RE.match(last_line) and last_char in ".!?)":
        return True
    return False


def merge_page_boundaries(pages: list[str]) -> list[str]:
    """Carry mid-sentence trailing fragments into the following page
    (ref stage2_ocr.py:547-605)."""
    if len(pages) < 2:
        return pages

    merged: list[str] = []
    carry = ""

    for i, page in enumerate(pages):
        head, _, rest = page.partition("\n")
        if head.startswith("<!--"):
            meta = head
            content = rest.strip()
        else:
            meta = ""
            content = page.strip()

        if carry:
            content = carry + " " + content
            carry = ""

        if i < len(pages) - 1:
            stripped = content.rstrip()
            if stripped and not ends_complete(stripped):
                last_line = stripped.split("\n")[-1]
                if last_line and not any(
                    last_line.startswith(p) for p in _NO_CARRY_PREFIXES
                ):
                    lines = content.rstrip().split("\n")
                    carry = lines[-1]
                    content = "\n".join(lines[:-1]).rstrip()

        merged.append(f"{meta}\n\n{content}" if meta else content)

    if carry and merged:
        merged[-1] = merged[-1].rstrip() + " " + carry

    return merged


def assemble_document(
    page_markdowns: list[str],
    doc_name: str,
    n_figures: int = 0,
    diagrams_used: int = 0,
) -> str:
    """Ordered document assembly (ref stage2_ocr.py:474-544).

    ``page_markdowns`` must already be finalized per-page blocks (meta
    header + text, finalize_page) in page order; empty pages are skipped.
    """
    blocks = [m for m in page_markdowns if m]
    blocks = merge_page_boundaries(blocks)

    if diagrams_used > 0:
        converter = f"DOM-Heuristic ({diagrams_used} diagrams) + MarkdownKernel"
    else:
        converter = CONVERTER_NAME

    parts = [
        f"# {doc_name}\n",
        f"*Converted using {converter}*\n",
        f"*Pages: {len(page_markdowns)} | Figures: {n_figures}*\n",
        "\n---\n",
        "\n\n---\n\n".join(blocks),
    ]
    return "\n".join(parts)
