"""Arrow-vectorized extraction operator (mapInPandas kernel).

The graft of the reference's process-boundary dispatch
(reference src/stage2_ocr.py:51-177): where the reference ships
page batches to a worker process through JSON temp files, Spark ships
Arrow record batches to its Python workers — no files, no per-row
Python on the JVM side.  The kernel is an iterator-of-batches function
so per-worker setup happens once, not per row.

There is one physical plan: classify + extract + clean + describe +
finalize run in ONE narrow pass over the scan — one
`kernel.page.extract_page` call per row, no second scan, no join.  The
reference splits these stages only to keep GPU models resident
(ocr_pipeline.py:250-307), a constraint that does not exist here.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from ocr_pipeline_spark.kernel.page import extract_page, page_num_from_url

# --- output schemas (DDL) -------------------------------------------------
CLASSIFICATION_DDL = (
    "struct<type:string,confidence:double,description:string,"
    "has_text:boolean,has_images:boolean,has_tables:boolean,"
    "has_diagrams:boolean,method:string>"
)
SPANS_DDL = "array<struct<block_type:string,start:bigint,end:bigint>>"

EXTRACTED_DDL = (
    "url string, warc_ts timestamp, lang string, page_num int, "
    f"classification {CLASSIFICATION_DDL}, method string, "
    "markdown string, description string, "
    f"spans {SPANS_DDL}, "
    "n_chars bigint, n_figures int, n_html_bytes bigint"
)

_CLS_KEYS = (
    "type", "confidence", "description",
    "has_text", "has_images", "has_tables", "has_diagrams", "method",
)


def _cls_cell(cls: dict) -> dict:
    # Arrow struct columns want dict cells
    return {k: cls.get(k) for k in _CLS_KEYS}


# --- kernel ------------------------------------------------------------------
def fused_extract_kernel(describe: bool, counters: dict | None = None):
    """mapInPandas kernel: pages(url, warc_ts, html, lang) -> EXTRACTED_DDL.

    `counters`: optional dict of Spark accumulators
    ({"pages", "empty_pages", "described_pages"}) incremented once per
    Arrow batch — progress observability (P7) with zero extra scan.
    Accumulator semantics: exact for the single planned run of each
    task, over-counted on speculative retries — observability, not
    lineage (the manifest/metrics rows stay authoritative)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # columnar construction: ~2x cheaper than row tuples through
            # pandas object inference at this row width
            n = len(pdf)
            cols: dict[str, list] = {
                "page_num": [0] * n, "classification": [None] * n,
                "method": [""] * n, "markdown": [""] * n,
                "description": [""] * n, "spans": [None] * n,
                "n_chars": [0] * n, "n_figures": [0] * n,
                "n_html_bytes": [0] * n,
            }
            for i, (url, html) in enumerate(zip(pdf["url"], pdf["html"])):
                page_num = page_num_from_url(url)
                r = extract_page(html, page_num, describe)
                cols["page_num"][i] = page_num
                cols["classification"][i] = _cls_cell(r.classification)
                cols["method"][i] = r.method
                cols["markdown"][i] = r.markdown
                cols["description"][i] = r.description
                cols["spans"][i] = r.spans
                cols["n_chars"][i] = r.n_chars
                cols["n_figures"][i] = r.n_figures
                cols["n_html_bytes"][i] = len(html) if html is not None else 0
            if counters is not None:
                counters["pages"].add(n)
                counters["empty_pages"].add(
                    sum(1 for c in cols["n_chars"] if c == 0)
                )
                counters["described_pages"].add(
                    sum(1 for d in cols["description"] if d)
                )
            out = pd.DataFrame(
                {
                    "url": pdf["url"].reset_index(drop=True),
                    "warc_ts": pdf["warc_ts"].reset_index(drop=True),
                    "lang": pdf["lang"].reset_index(drop=True),
                    **cols,
                }
            )
            yield out

    return kernel

