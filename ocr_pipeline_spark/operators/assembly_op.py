"""Per-document assembly operator (A3/A4 as a grouped-map kernel).

Graft of the reference's document assembly
(reference src/stage2_ocr.py:474-605): pages of one document are
an ordered fold (boundary-fragment carry + header + separators), so in
Spark it is ``groupBy(doc_key).applyInPandas`` — the one place grouped
state is genuinely required.  The shuffle key is the document key;
groups are small (pages per document), so skew is bounded by document
size, not host popularity.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_pipeline_spark.kernel.assemble import assemble_document

DOCUMENT_DDL = (
    "doc_key string, markdown string, n_pages int, n_figures int, n_chars bigint"
)

_PAGE_SUFFIX = r"/page-\d+/?$"


def _batch_assemble(batches):
    """mapInPandas kernel over (doc_key, pages:list<struct>) rows: one
    Python call per Arrow batch (thousands of docs) instead of one
    applyInPandas invocation per group — same shuffle, ~100x less
    per-group overhead when most documents are single-page."""
    for pdf in batches:
        out = {"doc_key": [], "markdown": [], "n_pages": [], "n_figures": [],
               "n_chars": []}
        for doc_key, pages in zip(pdf["doc_key"], pdf["pages"]):
            ordered = sorted(pages, key=lambda p: p["page_num"])
            markdowns = [p["markdown"] for p in ordered]
            n_figures = int(sum(p["n_figures"] for p in ordered))
            diagrams_used = sum(
                1 for p in ordered if (p["description"] or "") != ""
            )
            doc_name = doc_key.rstrip("/").rsplit("/", 1)[-1] or doc_key
            markdown = assemble_document(
                markdowns, doc_name,
                n_figures=n_figures, diagrams_used=diagrams_used,
            )
            out["doc_key"].append(doc_key)
            out["markdown"].append(markdown)
            out["n_pages"].append(len(markdowns))
            out["n_figures"].append(n_figures)
            out["n_chars"].append(len(markdown))
        yield pd.DataFrame(out)


def assemble_documents(extracted: DataFrame) -> DataFrame:
    """extracted (per-page) -> one assembled markdown document per doc_key.

    doc_key strips the `/page-N` suffix; single-page urls form 1-page
    documents (the HTML corpus degenerate case, SURVEY.md §2.4 A3).
    Physical shape: groupBy(doc_key).agg(collect_list(pages)) — the one
    required shuffle, sized by pages-per-document, never host
    popularity — then a batched Arrow kernel does the ordered fold.
    """
    keyed = extracted.withColumn(
        "doc_key", F.regexp_replace("url", _PAGE_SUFFIX, "")
    ).select("doc_key", "page_num", "markdown", "n_figures", "description")
    grouped = keyed.groupBy("doc_key").agg(
        F.collect_list(
            F.struct("page_num", "markdown", "n_figures", "description")
        ).alias("pages")
    )
    return grouped.mapInPandas(_batch_assemble, schema=DOCUMENT_DDL)
