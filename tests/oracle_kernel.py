"""Test oracle: kernel steps as they were written before their
allocation-free rewrites, kept so differential tests can pin the
package's versions to them output for output.

  * C5 `normalize_bullets`: two anchored MULTILINE regex substitutions
    over the whole text (the package walks the glyphs with `str.find`);
  * `compute_spans`: a slice per segment, classified by `_segment_kind`
    (the package classifies each segment in place).
"""

from __future__ import annotations

import re

from ocr_pipeline_spark.kernel.page import _PREFIX_KINDS

# --- C5 -----------------------------------------------------------------
_BULLET_DOT_RE = re.compile(r"^(\s*)•\s*", re.MULTILINE)
_BULLET_RING_RE = re.compile(r"^(\s*)○\s*", re.MULTILINE)


def normalize_bullets_oracle(text: str) -> str:
    text = _BULLET_DOT_RE.sub(r"\1- ", text)
    text = _BULLET_RING_RE.sub(r"\1  - ", text)
    return text


# --- spans --------------------------------------------------------------
_LIST_LINE = re.compile(r"^(?:[-*] |\d+\. )")


def _segment_kind(segment: str) -> str:
    head = segment[:1]
    prefix_kind = _PREFIX_KINDS.get(head)
    if prefix_kind is not None and segment.startswith(prefix_kind[0]):
        return prefix_kind[1]
    # isdigit() admits every character \d does
    if (head == "-" or head == "*" or head.isdigit()) and _LIST_LINE.match(segment):
        return "list"
    line_end = segment.find("\n")
    if segment.count("|", 0, line_end if line_end != -1 else len(segment)) >= 2:
        return "table"
    if segment.strip() == "---":
        return "rule"
    return "paragraph"


def compute_spans_oracle(markdown: str) -> list[dict]:
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
        segment = markdown[i:end]
        spans.append({"block_type": _segment_kind(segment), "start": i, "end": end})
        i = end
    return spans
