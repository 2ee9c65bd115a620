"""Per-page extraction: classify → dispatch → render → clean → finalize.

This is the fused per-row kernel the Spark job vectorizes over Arrow
batches.  It composes the graft's counterparts of the reference's
stages: classification (qwen_processor.py:244-280), prompt dispatch
(stage2_ocr_worker.py:35-47), extraction (stage2_ocr_worker.py:54-144),
the cleaning chain (stage2_ocr.py:184-251), the per-page description
merge A1 and metadata header A2 (stage2_ocr.py:493-523) — all as one
pure function of the page bytes.
"""

from __future__ import annotations

import gc
import re
from dataclasses import dataclass, field

from ocr_pipeline_spark.kernel.blocks import Block, render_blocks
from ocr_pipeline_spark.kernel.classify import (
    DIAGRAM_TYPES,
    classify_stats,
    dispatch_strategy,
    wants_description,
)
from ocr_pipeline_spark.kernel.cleaning import clean_text
from ocr_pipeline_spark.kernel.describe import describe_diagram_source

DESCRIBE_METHOD = "diagram-describe-v1"

# multi-page documents address pages as .../page-N; everything else is
# a single-page document (page 1)
_PAGE_NUM_RE = re.compile(r"/page-(\d+)/?$")


def page_num_from_url(url: str) -> int:
    m = _PAGE_NUM_RE.search(url or "")
    return int(m.group(1)) if m else 1


# Block kinds kept by the 'describe' strategy (pure diagram/flowchart
# pages keep only their structural content, mirroring the reference's
# describe-only prompt for those types).
_DESCRIBE_KINDS = frozenset({"heading", "diagram", "code", "figure"})


@dataclass
class PageResult:
    markdown: str                 # final per-page markdown (meta header + text)
    classification: dict          # Stage-1 contract record
    method: str
    spans: list[dict] = field(default_factory=list)
    description: str = ""         # Stage-1.5 output (empty if not described)
    n_figures: int = 0

    @property
    def n_chars(self) -> int:
        return len(self.markdown)


# --- span computation ---------------------------------------------------
# matched at a segment start with `pattern.match(text, i, end)`, which
# does not treat `i` as ``^``, so the patterns carry no anchor
_LIST_ITEM = re.compile(r"[-*] |\d+\. ")
_RULE = re.compile(r"\s*---\s*")  # fullmatch == `segment.strip() == "---"`


# first character -> (prefix, kind) for the kinds a prefix decides
_PREFIX_KINDS = {
    "<": ("<!--", "meta"),
    "#": ("#", "heading"),
    "`": ("```", "code"),
    "!": ("![", "figure"),
    ">": ("> ", "quote"),
}


def _segment_kind(text: str, i: int, end: int) -> str:
    """Kind of the segment ``text[i:end]``, classified in place: a slice
    would copy every segment of the page once more."""
    head = text[i]
    prefix_kind = _PREFIX_KINDS.get(head)
    if prefix_kind is not None and text.startswith(prefix_kind[0], i, end):
        return prefix_kind[1]
    # isdigit() admits every character \d does
    if (head == "-" or head == "*" or head.isdigit()) and _LIST_ITEM.match(
        text, i, end
    ):
        return "list"
    line_end = text.find("\n", i, end)
    if text.count("|", i, line_end if line_end != -1 else end) >= 2:
        return "table"
    if _RULE.fullmatch(text, i, end):
        return "rule"
    return "paragraph"


def compute_spans(markdown: str) -> list[dict]:
    """Structural index of the final markdown: fence-aware blank-line
    segmentation; every span indexes into the emitted string."""
    spans: list[dict] = []
    i, n = 0, len(markdown)
    while i < n:
        if markdown[i] == "\n":
            i += 1
            continue
        if markdown.startswith("```", i):
            close = markdown.find("\n```", i + 3)
            end = close + 4 if close != -1 else n
        else:
            nxt = markdown.find("\n\n", i)
            end = nxt if nxt != -1 else n
        spans.append(
            {"block_type": _segment_kind(markdown, i, end), "start": i, "end": end}
        )
        i = end
    return spans


# --- A1 merge + A2 header -------------------------------------------------
def finalize_page(
    body: str, classification: dict, description: str, page_num: int = 1
) -> tuple[str, str, list[dict]]:
    """Per-page method selection + metadata header (ref stage2_ocr.py:493-523).

    * pure diagram/flowchart page with a description → the description
      replaces the extracted text entirely;
    * mixed page with a description → extracted text plus an appended
      ``*Diagram description:*`` block;
    * otherwise the extracted text stands.
    """
    page_type = str(classification.get("type", "mixed"))
    confidence = float(classification.get("confidence", 0.5))

    if description and page_type.lower() in DIAGRAM_TYPES:
        text = description
        method = DESCRIBE_METHOD
    elif description and page_type.lower() == "mixed":
        text = body + f"\n\n---\n*Diagram description:*\n\n{description}"
        method = str(classification.get("method", "unknown"))
    else:
        text = body
        method = str(classification.get("method", "unknown"))

    if text:
        meta = (
            f"<!-- Page {page_num} | Type: {page_type} | "
            f"Confidence: {confidence:.0%} | Method: {method} -->"
        )
        markdown = f"{meta}\n\n{text}"
    else:
        markdown = ""
    return markdown, method, compute_spans(markdown)


def _strategy_blocks(blocks: list[Block], strategy: str) -> list[Block]:
    if strategy == "describe":
        return [b for b in blocks if b.kind in _DESCRIBE_KINDS]
    return blocks


def extract_body(html: str | bytes) -> tuple[str, dict, list[str], int]:
    """Stages 1+2 fused: (cleaned body, classification, diagram sources, n_figures)."""
    blocks, stats = render_blocks(html)
    classification = classify_stats(stats)
    strategy = dispatch_strategy(classification)
    kept = _strategy_blocks(blocks, strategy)
    raw = "\n\n".join(b.text for b in kept)
    body = clean_text(raw)
    return body, classification, stats.diagram_sources, stats.n_figures


def extract_page(
    html: str | bytes, page_num: int = 1, describe: bool = False
) -> PageResult:
    """The full per-page kernel (pure, deterministic).

    The cyclic garbage collector is paused for the page.  The kernel
    creates no reference cycles (pinned by tests/test_kernel_ledger.py),
    so reference counting frees everything it builds; the collector
    would only re-scan the page's live tree each time allocations pile
    up and promote it through its generations (29% of parse and 17% of
    render time on crawl_large in the benchmark's Spark driver,
    docs/DESIGN.md §5 item 9)."""
    collecting = gc.isenabled()
    gc.disable()
    try:
        body, classification, diagram_sources, n_figures = extract_body(html)
        description = ""
        if describe and wants_description(classification) and diagram_sources:
            description = "\n\n".join(
                describe_diagram_source(s) for s in diagram_sources
            )
        markdown, method, spans = finalize_page(
            body, classification, description, page_num
        )
    finally:
        if collecting:
            gc.enable()
    return PageResult(
        markdown=markdown,
        classification=classification,
        method=method,
        spans=spans,
        description=description,
        n_figures=n_figures,
    )
