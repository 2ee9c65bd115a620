"""Test oracle: stream-order PDF page text.

`page_text` reads the text show operators (Tj / ' / TJ) of a content
stream in the order they occur, with no layout analysis.  It is the
reference that `sources.pdf.page_text_xy` (XY-cut reading order) must
equal on linear single-column streams; no production path calls it.
String escapes are decoded by the package's own `_unescape`, since
escape decoding is not what the comparison tests.
"""

from __future__ import annotations

import re

from ocr_pipeline_spark.sources.pdf import _STR_RE, _unescape

_TJ_RE = re.compile(rb"\(((?:[^()\\]|\\.)*)\)\s*(?:Tj|')")
_TJARR_RE = re.compile(rb"\[((?:[^\[\]\\]|\\.)*)\]\s*TJ", re.S)


def page_text(content: bytes | None) -> str:
    """Text show operators (Tj / ' / TJ) of a content stream, in stream
    order, newline-joined — the codec-free analog of the reference's
    per-page OCR text."""
    if not content:
        return ""
    pieces: list[tuple[int, bytes]] = []
    for m in _TJ_RE.finditer(content):
        pieces.append((m.start(), _unescape(m.group(1))))
    for m in _TJARR_RE.finditer(content):
        joined = b"".join(
            _unescape(s.group(1)) for s in _STR_RE.finditer(m.group(1))
        )
        pieces.append((m.start(), joined))
    pieces.sort()
    return "\n".join(
        p.decode("utf-8", "replace") for _, p in pieces if p
    )
