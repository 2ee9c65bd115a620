"""PDF payload → page rows (the S2 page-explode graft).

Reference analog: ``pdf_to_page_images``
(reference src/stage2_ocr.py:406-442) opens a PDF with PyMuPDF
and emits one rendered image per page.  Spark-first shape: a pandas-UDF
splitter turns each document's ``binary`` payload into
``ARRAY<STRUCT<page_num,content>>`` and ``explode()`` turns documents
into page rows — downstream kernels stay per-page, exactly like the
html path (kernel/page.py), and the explode parallelizes pages across
tasks.

Decode strategy: one structural splitter, stdlib only, so executors
need no native codec (docs/DESIGN.md §7).  ``content`` is each page's
decompressed content stream(s): object scan, page-tree ordering via
/Kids, /Contents dereference and Flate inflate via zlib.  The result
is deterministic on every host, and `page_text_xy` extracts the text
show operators from it in reading order, so PDF pages flow through the
same text pipeline as html pages.  Where the reference rasterizes a
page for OCR, this graft reads the page's own text operators.
"""

from __future__ import annotations

import re
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b(.*?)\bendobj", re.S)
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
_KIDS_RE = re.compile(rb"/Kids\s*\[(.*?)\]", re.S)
_CONTENTS_RE = re.compile(rb"/Contents\s*(\[(?:.*?)\]|\d+\s+\d+\s+R)", re.S)


def _object_map(data: bytes) -> dict[int, bytes]:
    """Object number -> object body (xref-free linear scan — robust to
    the truncated/concatenated PDFs a web crawl serves)."""
    return {int(m.group(1)): m.group(2) for m in _OBJ_RE.finditer(data)}


# deflate-bomb guard: a KB-sized FlateDecode stream can inflate to GBs;
# no real page content stream approaches this cap
_MAX_STREAM_BYTES = 16 << 20


def _stream_bytes(body: bytes) -> bytes:
    """Slice a stream object's payload; inflate FlateDecode streams
    (bounded at _MAX_STREAM_BYTES — truncates, never allocates
    unboundedly on a crafted stream)."""
    i = body.find(b"stream")
    if i < 0:
        return b""
    i += len(b"stream")
    if body[i : i + 2] == b"\r\n":
        i += 2
    elif body[i : i + 1] in (b"\n", b"\r"):
        i += 1
    j = body.rfind(b"endstream")
    raw = body[i:j] if j > i else body[i:]
    # strip exactly ONE trailing EOL (the writer's, per spec) — a blanket
    # rstrip would eat legitimate 0x0a/0x0d bytes ending a deflate stream
    if raw.endswith(b"\r\n"):
        raw = raw[:-2]
    elif raw.endswith((b"\n", b"\r")):
        raw = raw[:-1]
    if b"/FlateDecode" in body[: body.find(b"stream")]:
        try:
            return zlib.decompressobj().decompress(raw, _MAX_STREAM_BYTES)
        except zlib.error:
            return raw
    return raw


def _page_order(objects: dict[int, bytes], page_ids: list[int]) -> list[int]:
    """Page order from the page tree's /Kids arrays (depth-first over
    /Type /Pages nodes); falls back to file order when no tree exists."""
    kids_of: dict[int, list[int]] = {}
    roots: list[int] = []
    for num, body in objects.items():
        if b"/Type" in body and re.search(rb"/Type\s*/Pages\b", body):
            m = _KIDS_RE.search(body)
            kids_of[num] = (
                [int(r.group(1)) for r in _REF_RE.finditer(m.group(1))]
                if m
                else []
            )
    child_ids = {k for kids in kids_of.values() for k in kids}
    roots = [n for n in kids_of if n not in child_ids]
    ordered: list[int] = []
    seen: set[int] = set()

    def walk(node: int) -> None:
        if node in seen:
            return
        seen.add(node)
        if node in kids_of:
            for k in kids_of[node]:
                walk(k)
        elif node in page_ids:
            ordered.append(node)

    for r in sorted(roots):
        walk(r)
    for p in page_ids:  # pages outside the tree keep file order
        if p not in ordered:
            ordered.append(p)
    return ordered


def split_pdf_pages(data: bytes | None) -> list[dict]:
    """binary PDF -> [{"page_num": i, "content": bytes}], 1-based:
    object scan → page-tree order → /Contents dereference → Flate
    inflate, so content = the page's decompressed content stream(s).
    Malformed/non-PDF payloads yield [] (a crawl row with a lying
    content-type must not fail the task)."""
    if not data or data[:5] != b"%PDF-":
        return []
    objects = _object_map(data)
    page_ids = [
        num for num, body in objects.items()
        if re.search(rb"/Type\s*/Page\b", body)
        and not re.search(rb"/Type\s*/Pages\b", body)
    ]
    out = []
    for i, num in enumerate(_page_order(objects, page_ids)):
        m = _CONTENTS_RE.search(objects[num])
        content = b""
        if m:
            refs = [int(r.group(1)) for r in _REF_RE.finditer(m.group(1))]
            content = b"\n".join(
                _stream_bytes(objects[r]) for r in refs if r in objects
            )
        out.append({"page_num": i + 1, "content": content})
    return out


_STR_RE = re.compile(rb"\(((?:[^()\\]|\\.)*)\)")
_ESC = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _unescape(s: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(s):
        c = s[i : i + 1]
        if c == b"\\" and i + 1 < len(s):
            nxt = s[i + 1 : i + 2]
            if nxt in _ESC:
                out += _ESC[nxt]
                i += 2
                continue
            if nxt.isdigit():  # octal escape, up to 3 digits
                j = i + 1
                while j < min(i + 4, len(s)) and s[j : j + 1].isdigit():
                    j += 1
                out.append(int(s[i + 1 : j], 8) & 0xFF)
                i = j
                continue
            i += 1
            continue
        out += c
        i += 1
    return bytes(out)


_NUM = rb"[-+]?(?:\d+\.?\d*|\.\d+)"
_LAYOUT_RE = re.compile(
    rb"(?P<tdx>" + _NUM + rb")\s+(?P<tdy>" + _NUM + rb")\s+(?P<tdop>Td|TD)\b"
    rb"|(?:" + _NUM + rb"\s+){4}(?P<tme>" + _NUM + rb")\s+(?P<tmf>"
    + _NUM + rb")\s+Tm\b"
    rb"|/\w+\s+(?P<fs>" + _NUM + rb")\s+Tf\b"
    rb"|\((?P<tj>(?:[^()\\]|\\.)*)\)\s*(?P<showop>Tj|')"
    rb"|\[(?P<tjarr>(?:[^\[\]\\]|\\.)*)\]\s*TJ"
    rb"|(?P<bt>BT)\b"
    rb"|(?P<tstar>T\*)",
    re.S,
)


def page_text_blocks(
    content: bytes | None,
) -> list[tuple[float, float, float, float, bytes]]:
    """Positioned text blocks (x0, y0, x1, y1, text) of a content
    stream: tracks the text-line origin through Td/TD/Tm/T*, the font
    size through Tf, and emits one block per show op (Tj / ' / TJ).
    Glyph widths are approximated at 0.5 em (no font metrics without
    codecs) — ample for XY-cut, whose cuts are whitespace BANDS, not
    exact extents.  Total: malformed operands are skipped."""
    if not content:
        return []
    blocks: list[tuple[float, float, float, float, bytes]] = []
    fs, leading = 12.0, 14.4
    line_x = line_y = cx = 0.0
    for m in _LAYOUT_RE.finditer(content):
        try:
            if m.group("tdop"):
                dx, dy = float(m.group("tdx")), float(m.group("tdy"))
                if m.group("tdop") == b"TD":
                    leading = -dy if dy else leading
                line_x += dx
                line_y += dy
                cx = line_x
            elif m.group("tme") is not None:
                line_x = cx = float(m.group("tme"))
                line_y = float(m.group("tmf"))
            elif m.group("fs") is not None:
                fs = float(m.group("fs")) or fs
                leading = fs * 1.2
            elif m.group("bt") is not None:
                line_x = line_y = cx = 0.0
            elif m.group("tstar") is not None:
                line_y -= leading
                cx = line_x
            else:
                if m.group("showop") == b"'":
                    line_y -= leading
                    cx = line_x
                if m.group("tj") is not None:
                    text = _unescape(m.group("tj"))
                else:
                    text = b"".join(
                        _unescape(s.group(1))
                        for s in _STR_RE.finditer(m.group("tjarr"))
                    )
                w = 0.5 * fs * len(text)
                blocks.append((cx, line_y, cx + w, line_y + fs, text))
                cx += w
        except (ValueError, OverflowError):  # malformed operand
            continue
    return blocks


def page_text_xy(content: bytes | None) -> str:
    """Page text in XY-cut reading order (kernel/layout.py): text
    blocks are re-linearized by recursive whitespace-band cuts, so a
    two-column page reads title -> left column -> right column even
    when the content stream interleaves the columns.  Falls back to
    stream order when the stream carries no positioning diversity —
    on linear single-column streams the XY-cut order IS stream order,
    so this is a strict generalization of stream order (equality with
    the stream-order oracle tests/oracle_pdf.page_text is pinned over
    the whole fixture corpus in tests/test_layout.py)."""
    from ocr_pipeline_spark.kernel.layout import xy_cut

    blocks = page_text_blocks(content)
    if len({(b[0], b[1]) for b in blocks}) <= 1:
        # stream order; blocks already carry every show op's text, so
        # no second regex scan of the content bytes (hot path:
        # pdf_page_explode's mapInPandas kernel)
        return "\n".join(
            b[4].decode("utf-8", "replace") for b in blocks if b[4]
        )
    order = xy_cut([b[:4] for b in blocks])
    return "\n".join(
        blocks[i][4].decode("utf-8", "replace")
        for i in order
        if blocks[i][4]
    )


def _layout_lines(
    blocks: list[tuple[float, float, float, float, bytes]],
    y_tol: float = 2.0,
) -> list[dict]:
    """Group positioned blocks into visual LINES (same baseline within
    y_tol), each with its x-sorted cells and font size (block height).
    Returned in no particular order — callers re-order with xy_cut.

    O(n): rows are indexed by the quantized baseline floor(y0/y_tol);
    a block within y_tol of a row's baseline always lands in the same
    or an adjacent bucket, so only those three buckets are probed (in
    row-insertion order, preserving the first-match semantics a full
    linear scan would have)."""
    import math

    rows: list[dict] = []
    buckets: dict[int, list[int]] = {}
    for x0, y0, x1, y1, text in blocks:
        if not text:
            continue
        if not (y_tol > 0 and math.isfinite(y0)):
            # a non-finite baseline can never merge (abs(inf-inf) is
            # nan, never <= y_tol) — creating the row WITHOUT probing
            # or registering keeps hostile saturated-coordinate streams
            # linear instead of piling every block into one bucket
            rows.append(
                {"x0": x0, "y0": y0, "x1": x1, "y1": y1,
                 "cells": [(x0, text)]}
            )
            continue
        b = math.floor(y0 / y_tol)
        candidates = sorted(
            i
            for bb in (b - 1, b, b + 1)
            for i in buckets.get(bb, ())
        )
        for i in candidates:
            row = rows[i]
            if abs(row["y0"] - y0) <= y_tol:
                row["cells"].append((x0, text))
                row["x0"] = min(row["x0"], x0)
                row["x1"] = max(row["x1"], x1)
                row["y1"] = max(row["y1"], y1)
                break
        else:
            buckets.setdefault(b, []).append(len(rows))
            rows.append(
                {"x0": x0, "y0": y0, "x1": x1, "y1": y1,
                 "cells": [(x0, text)]}
            )
    for row in rows:
        row["cells"].sort()
        row["fs"] = row["y1"] - row["y0"]
    return rows


def page_markdown_xy(content: bytes | None) -> str:
    """Markdown reconstruction of a positioned content stream — the
    layout-payload analog of the HTML kernel's heading/table
    reconstruction (kernel/blocks.py):

      * lines in XY-cut reading order (kernel/layout.py);
      * HEADINGS by font size: >=1.5x the page's median size -> '#',
        >=1.2x -> '##' (the reference's OCR model reads size from the
        rendered page; codec-free, size comes from Tf tracking);
      * TABLES by column alignment: a run of >=2 consecutive lines
        whose >=2 cell x-origins coincide (±2pt) renders as a markdown
        table with a header separator — the XY-cut guarantees the run
        is contiguous in reading order;
      * everything else joins its cells as a paragraph line.

    Deterministic and total: garbage yields ''."""
    from ocr_pipeline_spark.kernel.layout import xy_cut

    lines = _layout_lines(page_text_blocks(content))
    if not lines:
        return ""
    order = xy_cut([(r["x0"], r["y0"], r["x1"], r["y1"]) for r in lines])
    ordered = [lines[i] for i in order]
    sizes = sorted(r["fs"] for r in ordered)
    body_fs = sizes[len(sizes) // 2]

    def col_key(row: dict) -> tuple | None:
        if len(row["cells"]) < 2:
            return None
        return tuple(round(x / 2.0) for x, _ in row["cells"])

    def cell_text(cells) -> list[str]:
        return [
            t.decode("utf-8", "replace").replace("|", "\\|") for _, t in cells
        ]

    out: list[str] = []
    i = 0
    while i < len(ordered):
        row = ordered[i]
        key = col_key(row)
        if key is not None:
            j = i + 1
            while j < len(ordered) and col_key(ordered[j]) == key:
                j += 1
            if j - i >= 2:  # aligned run -> markdown table
                header = cell_text(ordered[i]["cells"])
                out.append("| " + " | ".join(header) + " |")
                out.append("|" + "---|" * len(header))
                for r in ordered[i + 1 : j]:
                    out.append(
                        "| " + " | ".join(cell_text(r["cells"])) + " |"
                    )
                i = j
                continue
        # same pipe escaping as table cells: a body line containing
        # '|' must not render as a spurious one-row table downstream
        text = " ".join(cell_text(row["cells"]))
        if row["fs"] >= 1.5 * body_fs:
            out.append("# " + text)
        elif row["fs"] >= 1.2 * body_fs:
            out.append("## " + text)
        else:
            out.append(text)
        i += 1
    return "\n".join(out)


# --- Spark operators ---------------------------------------------------------
# pdf_to_pages_df stamps every page row with this capture time and lang
_PAGE_TS = "2024-01-01 00:00:00"
_PAGE_LANG = "und"


def pdf_to_pages_df(df: DataFrame) -> DataFrame:
    """documents(url, payload) -> the standard pages(url, warc_ts, html,
    lang) table, one row per PDF page.

    Each page's text becomes a minimal html body (one <p> per line,
    entities escaped) and page urls follow the /page-N convention, so
    the SAME extraction kernel, cleaning chain, and document assembly
    process PDF corpora and html corpora identically — the graft's
    layout-parse path for PDF payloads (ref: stage2_ocr.py renders
    pages to images for OCR; here the structural text IS the page).
    One Arrow pass fuses split + text extraction + wrapping; explode()
    stays narrow."""
    import html as _html

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pages_col = []
            for data in pdf["payload"]:
                arr = []
                for p in split_pdf_pages(data):
                    body = "".join(
                        f"<p>{_html.escape(line)}</p>"
                        for line in page_text_xy(p["content"]).split("\n")
                        if line.strip()
                    )
                    arr.append(
                        {
                            "page_num": p["page_num"],
                            "html": f"<html><body><main>{body}</main></body></html>",
                        }
                    )
                pages_col.append(arr)
            yield pd.DataFrame({"url": pdf["url"], "pages": pages_col})

    with_pages = df.select("url", "payload").mapInPandas(
        kernel, schema="url string, pages array<struct<page_num:int,html:string>>"
    )
    return with_pages.select(
        "url", F.explode("pages").alias("page")
    ).select(
        F.concat(F.col("url"), F.lit("/page-"), F.col("page.page_num")).alias("url"),
        F.lit(_PAGE_TS).cast("timestamp").alias("warc_ts"),
        F.encode(F.col("page.html"), "utf-8").alias("html"),
        F.lit(_PAGE_LANG).alias("lang"),
    )


def explode_pdf_pages(df: DataFrame) -> DataFrame:
    """documents(url, payload) -> pages(url, page_num, content).

    The splitter is one narrow Arrow pass; explode() then multiplies
    rows without a shuffle, so page rows inherit the input partitioning
    and downstream per-page kernels parallelize across pages even when
    one task's documents are few and thick."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "url": pdf["url"],
                "pages": [split_pdf_pages(d) for d in pdf["payload"]],
            })

    with_pages = df.select("url", "payload").mapInPandas(
        kernel,
        schema="url string, pages array<struct<page_num:int,content:binary>>",
    )
    return with_pages.select(
        "url", F.explode("pages").alias("page")
    ).select(
        "url",
        F.col("page.page_num").alias("page_num"),
        F.col("page.content").alias("content"),
    )
