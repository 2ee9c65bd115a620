"""Extraction family: html and PDF pages through the kernel, document
assembly, head metadata, text hygiene, and the WARC/WET containers."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_pipeline_spark.fixtures.gen_pages import (
    documents_as_pages_df, documents_with_head_df, page_ts,
)
from ocr_pipeline_spark.fixtures.gen_pdfs import report_pdf
from ocr_pipeline_spark.operators import assembly_op
from ocr_pipeline_spark.operators.metadata_op import page_metadata_df
from ocr_pipeline_spark.operators.text_ops import (
    mojibake_repair_kernel, normalize_kernel,
)
from ocr_pipeline_spark.plans.job import run_extraction
from ocr_pipeline_spark.queries import SEED, WITNESS_PDFS
from ocr_pipeline_spark.queries.common import (
    SYNTH_URLS_SQL, synth_urls, table, witness, witness_pages, witness_pdfs,
    witness_sql,
)
from ocr_pipeline_spark.sources.pdf import (
    _split_structural, explode_pdf_pages, page_markdown_xy, page_text_xy,
    pdf_to_pages_df,
)
from ocr_pipeline_spark.sources.warc import (
    documents_as_warc_df, warc_pages_df, wet_export_df,
)

# Golden-witness oracles: the byte-deterministic extraction family is
# checked against single-process kernel-loop fixtures
# (scripts/gen_witness.py; tests/test_witness.py pins freshness,
# tests/test_spark_job.py proves distributed == single-process), so the
# driver's hash compare covers the full extraction output even though
# the computation is not SQL-expressible.


def _extract(spark, pages):
    """Extraction with diagram descriptions and no host co-location:
    every consumer here works per row or groups by document (assembly's
    own doc_key shuffle is its grouping), so the plan is map-only."""
    return run_extraction(spark, pages, describe=True, co_locate_hosts=False)


def extracted_documents(spark, sf_dir):
    """documents -> wrapped pages -> extraction."""
    pages = documents_as_pages_df(table(spark, sf_dir, "documents"))
    return _extract(spark, pages)


def extract_documents(spark, sf_dir):
    return extracted_documents(spark, sf_dir).select(
        "url",
        F.col("classification.type").alias("page_type"),
        "method", "markdown", "n_chars",
    ).orderBy("url")


EXTRACT_DOCUMENTS_SQL = witness_sql(
    "extract_documents", "url, page_type, method, markdown, n_chars", "url"
)


def assemble_documents(spark, sf_dir):
    """A3/A4: multi-page extraction -> per-document ordered assembly
    (boundary-fragment carry, headers, separators) via
    groupBy(doc_key).applyInPandas.  Input: the deterministic synthetic
    pages corpus at its witness size (multi-page docs use /page-N
    urls)."""
    return (
        assembly_op.assemble_documents(_extract(spark, witness_pages(spark)))
        .select("doc_key", "n_pages", "n_figures", "n_chars")
        .orderBy("doc_key")
    )


ASSEMBLE_DOCUMENTS_SQL = witness_sql(
    "assemble_documents", "doc_key, n_pages, n_figures, n_chars", "doc_key"
)


def extract_pdf_documents(spark, sf_dir):
    """Full PDF pipeline: binary payloads -> page split -> the SAME
    extraction kernel + cleaning + per-document assembly as html pages
    (sources/pdf.py:pdf_to_pages_df).  Ref analog: the reference's
    whole per-PDF flow (render -> OCR -> assemble).  Input: the PDF
    corpus at its witness size."""
    pages = pdf_to_pages_df(witness_pdfs(spark))
    return (
        assembly_op.assemble_documents(_extract(spark, pages))
        .select("doc_key", "n_pages", "n_chars")
        .orderBy("doc_key")
    )


EXTRACT_PDF_DOCUMENTS_SQL = witness_sql(
    "extract_pdf_documents", "doc_key, n_pages, n_chars", "doc_key"
)


def pdf_page_explode(spark, sf_dir):
    """S2 graft for binary PDF payloads: structural page split
    (sources/pdf.py, ref stage2_ocr.py:406-442) -> explode() to page
    rows -> per-page text extraction.  Input: the deterministic PDF
    corpus (pure function of seed+doc_id) at its witness size."""
    pages = explode_pdf_pages(witness_pdfs(spark), "payload")

    def text_kernel(batches):
        for pdf in batches:
            out = pdf[["url", "page_num"]].copy()
            out["n_bytes"] = [len(c or b"") for c in pdf["content"]]
            out["text"] = [page_text_xy(c) for c in pdf["content"]]
            yield out

    return pages.mapInPandas(
        text_kernel,
        schema="url string, page_num int, n_bytes bigint, text string",
    ).orderBy("url", "page_num")


PDF_PAGE_EXPLODE_SQL = witness_sql(
    "pdf_page_explode", "url, page_num, n_bytes, text", "url, page_num"
)


def pdf_layout_markdown(spark, sf_dir):
    """X52: heading/table reconstruction from POSITIONED layout — the
    layout-payload half of the north rule's "table/heading
    reconstruction": 18pt/14.5pt font sizes become #/## headings,
    x-aligned cell runs become markdown tables, lines re-linearized by
    XY-cut (kernel/layout.py).  Input: the deterministic layout-rich
    report corpus (pure function of seed+doc_id, like the WARC query's
    fixture side) at its witness size; the product path is the same
    kernel over a binary PDF column.

    Scale shape: ONE narrow mapInPandas (generate -> structural split
    -> positioned parse -> reconstruct, fused per batch), no shuffle.
    Oracle: golden witness from the single-process twin
    (scripts/gen_witness.py) — equality proves the distributed
    reconstruction is byte-identical per url."""

    def kernel(batches):
        for pdf in batches:
            urls, mds = [], []
            for i in pdf["id"]:
                url, payload = report_pdf(SEED, int(i))
                page = _split_structural(payload)[0]
                urls.append(url)
                mds.append(page_markdown_xy(page["content"]))
            yield pd.DataFrame({"url": urls, "markdown": mds})

    out = spark.range(WITNESS_PDFS).mapInPandas(
        kernel, schema="url string, markdown string"
    )
    return out.select(
        "url",
        F.md5(F.encode("markdown", "UTF-8")).alias("markdown_md5"),
        F.length("markdown").alias("n_chars"),
    ).orderBy("url")


PDF_LAYOUT_MARKDOWN_SQL = witness_sql(
    "pdf_layout_markdown", "url, markdown_md5, n_chars", "url"
)


def page_metadata(spark, sf_dir):
    """X57: head-metadata scan projection — <title>, meta description,
    canonical link, og:title and schema.org JSON-LD @type per url
    (kernel/metadata.py), the crawl-side analog of the reference's
    page-header metadata (ref src/stage2_ocr.py:519-544).  The corpus
    is the driver documents table wrapped with a deterministic
    metadata-bearing <head> (fixtures/gen_pages.wrap_document_with_head)
    that exercises entity decode, absent fields, malformed JSON-LD and
    first-title-wins.

    Scale shape: a narrow map over the (url, html) scan emitting five
    short strings per page — no shuffle at all; at 10^12 rows this is
    the same map-only plan as extraction, and the canonical column it
    emits is the dedup key the CDX index prefers.  Oracle: golden
    witness from the single-process kernel twin
    (scripts/gen_witness.py)."""
    pages = documents_with_head_df(table(spark, sf_dir, "documents"))
    return page_metadata_df(pages).orderBy("url")


PAGE_METADATA_SQL = witness_sql(
    "page_metadata",
    "url, title, description, canonical, og_title, ld_type",
    "url",
)


def extract_fidelity(spark, sf_dir):
    """X58: extraction fidelity scoring — token-multiset precision /
    recall / F1 of each page's extracted markdown against the table's
    source `text` column (the CleanEval-style main-content-extraction
    evaluation; here the wrap is synthetic so recall is the kernel's
    boilerplate-vs-content separation measured end-to-end).

    Scale shape: both sides tokenize into (url, tok, cnt) via
    partial-agg group-bys (map-side combine collapses repeated tokens
    before any exchange), the multiset intersection is ONE equi-join on
    (url, tok), then a per-url agg — never a per-pair comparison.  The
    P/R/F1 ratios are exact IEEE divisions of integer counts (no
    rounding), so they hash identically to the oracle.  Oracle: DuckDB
    computes the same arithmetic from the extract_documents witness
    markdown joined to documents.text."""
    out = extracted_documents(spark, sf_dir)

    def toks(col):
        return F.filter(
            F.split(F.lower(F.regexp_replace(col, "[^a-zA-Z0-9]+", " ")), " "),
            lambda t: t != "",
        )

    ext = (
        out.select("url", F.explode(toks(F.col("markdown"))).alias("tok"))
        .groupBy("url", "tok")
        .agg(F.count("*").alias("cnt_e"))
    )
    urls = synth_urls(table(spark, sf_dir, "documents")).select("url", "text")
    src = (
        urls.select("url", F.explode(toks(F.col("text"))).alias("tok"))
        .groupBy("url", "tok")
        .agg(F.count("*").alias("cnt_s"))
    )
    common = (
        ext.join(src, ["url", "tok"])
        .groupBy("url")
        .agg(F.sum(F.least("cnt_e", "cnt_s")).alias("n_common"))
    )
    n_ext = ext.groupBy("url").agg(F.sum("cnt_e").alias("n_ext"))
    n_src = src.groupBy("url").agg(F.sum("cnt_s").alias("n_src"))
    j = (
        urls.select("url")
        .join(n_src, "url", "left")
        .join(n_ext, "url", "left")
        .join(common, "url", "left")
        .fillna(0, subset=["n_src", "n_ext", "n_common"])
    )
    p = F.when(
        F.col("n_ext") > 0, F.col("n_common") / F.col("n_ext")
    ).otherwise(F.lit(0.0))
    r = F.when(
        F.col("n_src") > 0, F.col("n_common") / F.col("n_src")
    ).otherwise(F.lit(0.0))
    scored = j.select(
        "url",
        F.col("n_src").cast("long").alias("n_src"),
        F.col("n_ext").cast("long").alias("n_ext"),
        F.col("n_common").cast("long").alias("n_common"),
        p.alias("precision"),
        r.alias("recall"),
    )
    f1 = F.when(
        F.col("precision") + F.col("recall") > 0,
        F.lit(2.0) * F.col("precision") * F.col("recall")
        / (F.col("precision") + F.col("recall")),
    ).otherwise(F.lit(0.0))
    return scored.withColumn("f1", f1).orderBy("url")


# SQL-expressible end to end: DuckDB recomputes the token-multiset
# P/R/F1 from the witness markdown (independent single-process kernel
# loop) joined to the documents text; the ratios are IEEE divisions of
# exact integer counts on both sides, so no rounding is needed.
EXTRACT_FIDELITY_SQL = f"""
    WITH w AS (
        SELECT url, markdown FROM {witness("extract_documents")}
    ), urls AS (
        SELECT url, text FROM ({SYNTH_URLS_SQL})
    ), ext AS (
        SELECT url, tok, count(*) AS cnt_e FROM (
            SELECT url, unnest(string_split(lower(
                regexp_replace(markdown, '[^a-zA-Z0-9]+', ' ', 'g')
            ), ' ')) AS tok FROM w
        ) WHERE tok <> '' GROUP BY url, tok
    ), src AS (
        SELECT url, tok, count(*) AS cnt_s FROM (
            SELECT url, unnest(string_split(lower(
                regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')
            ), ' ')) AS tok FROM urls
        ) WHERE tok <> '' GROUP BY url, tok
    ), com AS (
        SELECT e.url, sum(least(cnt_e, cnt_s)) AS n_common
        FROM ext e JOIN src s ON e.url = s.url AND e.tok = s.tok
        GROUP BY e.url
    ), ne AS (SELECT url, sum(cnt_e) AS n_ext FROM ext GROUP BY url),
    ns AS (SELECT url, sum(cnt_s) AS n_src FROM src GROUP BY url),
    j AS (
        SELECT u.url,
               CAST(coalesce(ns.n_src, 0) AS BIGINT) AS n_src,
               CAST(coalesce(ne.n_ext, 0) AS BIGINT) AS n_ext,
               CAST(coalesce(com.n_common, 0) AS BIGINT) AS n_common
        FROM (SELECT url FROM urls) u
        LEFT JOIN ns USING (url)
        LEFT JOIN ne USING (url)
        LEFT JOIN com USING (url)
    ), pr AS (
        SELECT url, n_src, n_ext, n_common,
               CASE WHEN n_ext > 0 THEN n_common / n_ext
                    ELSE 0.0 END AS precision,
               CASE WHEN n_src > 0 THEN n_common / n_src
                    ELSE 0.0 END AS recall
        FROM j
    )
    SELECT url, n_src, n_ext, n_common, precision, recall,
           CASE WHEN precision + recall > 0
                THEN 2.0 * precision * recall / (precision + recall)
                ELSE 0.0 END AS f1
    FROM pr ORDER BY url
"""


def text_normalize(spark, sf_dir):
    """X59: Unicode text canonicalization (CCNet-style normalize stage):
    NFC composition + C0/DEL control stripping in an Arrow kernel
    (Python unicodedata), verified byte-for-byte against DuckDB's
    independent utf8proc nfc_normalize — two unrelated Unicode
    implementations agreeing on every md5 is the strongest oracle this
    family can have.  The synthetic corpus is ASCII, so deterministic
    non-NFC noise is injected per doc_id: %3==0 gets decomposed
    e+COMBINING ACUTE / u+COMBINING DIAERESIS sequences (must compose),
    %3==1 gets C0 control characters (must strip), %3==2 is untouched
    (already-normal path — the operator must be a no-op).

    Scale shape: a narrow map (doc_id, text) -> (doc_id, md5, lengths);
    no shuffle at any corpus size."""
    d = table(spark, sf_dir, "documents")
    injected = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("Cafe\u0301 "), F.col("text"), F.lit(" stru\u0308del")
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("\x07bell\x1f "), F.col("text")),
        )
        .otherwise(F.col("text"))
    )
    with_inj = d.select("doc_id", injected.alias("text"))
    normed = with_inj.mapInPandas(
        normalize_kernel(), schema="doc_id long, text string, norm string"
    )
    return normed.select(
        "doc_id",
        F.md5(F.encode(F.col("norm"), "UTF-8")).alias("norm_md5"),
        F.length("text").cast("long").alias("n_before"),
        F.length("norm").cast("long").alias("n_after"),
    ).orderBy("doc_id")


# Injection literals mirror the Spark expressions codepoint for
# codepoint (chr(769) = U+0301 combining acute, chr(776) = U+0308
# combining diaeresis, chr(7)/chr(31) = C0 controls).
TEXT_NORMALIZE_SQL = r"""
    WITH inj AS (
        SELECT doc_id,
               CASE
                 WHEN doc_id % 3 = 0 THEN 'Cafe' || chr(769) || ' '
                      || text || ' stru' || chr(776) || 'del'
                 WHEN doc_id % 3 = 1 THEN chr(7) || 'bell'
                      || chr(31) || ' ' || text
                 ELSE text
               END AS t
        FROM documents
    ), norm AS (
        SELECT doc_id, t,
               regexp_replace(nfc_normalize(t),
                   '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g') AS n
        FROM inj
    )
    SELECT doc_id, md5(n) AS norm_md5,
           CAST(length(t) AS BIGINT) AS n_before,
           CAST(length(n) AS BIGINT) AS n_after
    FROM norm ORDER BY doc_id
"""


def wet_export(spark, sf_dir):
    """X61: WET export — the extracted text re-packed as WARC
    'conversion' records (Common Crawl's WET layout: per-record gzip
    members, text/plain payloads), sharded content-addressed
    (md5(url) -> shard, so shard membership never depends on
    partitioning or parallelism), records url-sorted within a shard and
    gzip mtime pinned, so every shard's container bytes — and md5 — are
    deterministic.  Together with the WARC reader (X44) this closes the
    crawl container loop: WARC in, extraction, WET out.

    Scale shape: extraction is the usual map-only kernel; the only
    shuffle is the shard groupBy (a shard is one WET *file* — n_shards
    grows with the corpus, each group stays file-sized); the blob never
    leaves the executor, only (md5, sizes) do.  Oracle: golden witness
    from the single-process twin (scripts/gen_witness.py), which
    re-derives the container bytes from the kernel loop with no Spark
    and no shared shard state."""
    out = extracted_documents(spark, sf_dir)

    # WARC-Date from the SAME naive-datetime arithmetic the witness
    # uses (page_ts + strftime): a Spark-timestamp round trip through
    # date_format would render in the session timezone, and a DST-gap
    # wall time (reachable at doc_id ≳ 113k under a DST zone) would
    # shift — splitting the shard md5s from the witness.  Pure Python
    # on the url-embedded doc_id is timezone-free by construction.
    @F.pandas_udf(T.StringType())
    def _wet_date(urls):
        return urls.map(
            lambda u: page_ts(int(u.rsplit("/", 1)[1])).strftime(
                "%Y-%m-%dT%H:%M:%SZ"
            )
        )

    extracted = out.select(
        "url",
        _wet_date(F.col("url")).alias("wet_date"),
        F.col("markdown").alias("text"),
    )
    return wet_export_df(extracted, n_shards=8).orderBy("shard")


WET_EXPORT_SQL = witness_sql(
    "wet_export", "shard, n_records, n_bytes, wet_md5", "shard"
)


def warc_records(spark, sf_dir):
    """X44: WARC source round-trip — pack the documents corpus into
    Common-Crawl-layout WARC files (per-record gzip members, 50 pages
    per file), then split them back into page records distributed and
    peel the HTTP envelope.  Oracle: golden witness computed WITHOUT
    the WARC writer or parser (url/date/md5/lengths derived directly
    from the wrapped pages), so a hash match proves the full
    build -> gzip -> member-split -> Content-Length walk -> HTTP-split
    pipeline recovers every record byte-exactly.

    Scale shape: blob packing is the fixture side; the product path is
    `warc_pages_df` — a narrow mapInPandas over a binaryFile scan of
    crawl objects, no shuffle, bomb-guarded per record."""
    blobs = documents_as_warc_df(
        table(spark, sf_dir, "documents"), group_size=50, per_record_gzip=True
    )
    recs = warc_pages_df(blobs, "warc")
    return recs.select(
        "url",
        "warc_date",
        "rec_type",
        "http_status",
        F.md5("html").alias("html_md5"),
        F.length("html").alias("n_html_bytes"),
        "n_rec_bytes",
    ).orderBy("url")


WARC_RECORDS_SQL = witness_sql(
    "warc_records",
    "url, warc_date, rec_type, http_status, html_md5, n_html_bytes, "
    "n_rec_bytes",
    "url",
)


def mojibake_repair(spark, sf_dir):
    """X74: ftfy-style mojibake detection + repair — the standard
    crawl-hygiene pass for text whose UTF-8 bytes were somewhere
    misread as Latin-1 ('é' -> 'Ã©').  The kernel garbles each clean
    fixture document under exactly that corruption model, then runs the
    detect->repair pipeline (lead-byte heuristic U+00C2..U+00F4, then
    Latin-1 re-encode + UTF-8 decode); the oracle proves the repair is
    BYTE-EXACT by md5: repaired text must hash to the original.  The
    per-doc stats are engine-portable integers — n_chars of the garbled
    text equals octet_length of the original's UTF-8, n_marks equals
    its count of bytes >= 0x80 — so DuckDB derives every column from
    the clean text alone without being able to fake the round-trip.

    The fixture corpus is pure ASCII (garbling ASCII is the identity),
    so each document is first garnished with a deterministic non-ASCII
    decoration covering 2-, 3- and 4-byte UTF-8 sequences ('é'/'—',
    '№', '😀') — spelled identically by the SQL twin — making the
    repair path non-vacuous on every row.

    Scale shape: narrow Arrow kernel, no shuffle at any size; both
    codec passes are C-side per batch and the text column never
    leaves the worker (only md5 + counters come back)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("Résumé №"),
            F.col("doc_id").cast("string"),
            F.lit(" 😀 — "),
            F.col("text"),
        ).alias("text"),
    )
    fixed = d.mapInPandas(
        mojibake_repair_kernel(),
        schema="doc_id long, n_chars long, n_marks long, "
               "did_repair boolean, repaired string",
    )
    return fixed.select(
        "doc_id",
        "n_chars",
        "n_marks",
        "did_repair",
        F.md5(F.encode("repaired", "UTF-8")).alias("repaired_md5"),
    ).orderBy("doc_id")


# Every column is derived from the CLEAN text: n_chars(garbled) ==
# octet_length(utf-8 bytes), n_marks == count of bytes >= 0x80 (==
# octet_length - count of ASCII chars), did_repair fires iff any such
# byte exists (every multi-byte UTF-8 sequence starts with a 0xC2-0xF4
# lead), and a byte-exact repair means md5(repaired) == md5(text).
MOJIBAKE_REPAIR_SQL = """
    WITH garnished AS (
        SELECT doc_id,
               'Résumé №' || CAST(doc_id AS VARCHAR)
                   || ' 😀 — ' || text AS text
        FROM documents
    )
    SELECT doc_id,
           octet_length(encode(text)) AS n_chars,
           octet_length(encode(text))
               - length(regexp_replace(text, '[^[:ascii:]]',
                                       '', 'g')) AS n_marks,
           (octet_length(encode(text))
               - length(regexp_replace(text, '[^[:ascii:]]',
                                       '', 'g'))) > 0
               AS did_repair,
           md5(text) AS repaired_md5
    FROM garnished
    ORDER BY doc_id
"""
