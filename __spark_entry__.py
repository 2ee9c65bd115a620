"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: the full extraction pipeline over the
                 sf0.001 `documents` corpus wrapped as Common-Crawl
                 style pages (deterministic chrome), returning the
                 extracted table.
queries()      — the 50 queries the correctness harness evaluates,
                 each as (spark, sf_dir) -> DataFrame.
oracle_sql()   — DuckDB-equivalent SQL for every query (same column
                 names/types).  The byte-deterministic extraction
                 family is oracled against single-process
                 golden-witness parquets (scripts/gen_witness.py).

Both read one ordered table of (name, query, oracle); the bodies live
in the family modules of ocr_pipeline_spark/queries/, each oracle next
to its query.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_pipeline_spark.fixtures.gen_pages import documents_as_pages_df
from ocr_pipeline_spark.plans.job import run_extraction
from ocr_pipeline_spark.queries import crawl, links
from ocr_pipeline_spark.queries import curation as cur
from ocr_pipeline_spark.queries import dedup as dd
from ocr_pipeline_spark.queries import embeddings as emb
from ocr_pipeline_spark.queries import extraction as ext
from ocr_pipeline_spark.queries.common import WITNESS_DIR, table

SF0001 = "/root/testdata/sf0.001"

# Golden-witness fixtures (scripts/gen_witness.py): single-process
# kernel-loop outputs for the byte-deterministic extraction family,
# giving them full DuckDB hash oracles (SELECT over the witness) even
# though the computation itself is not SQL-expressible.  Anchored on
# this file, not on the package, which may ship inside a --py-files zip.
_WITNESS_DIR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "tests", "fixtures", "witness"
)


# The correctness harness evaluates the first 50 queries() entries, and
# these are all of them, in driver order.  tests/test_entry_contract.py
# runs the same compare on every query and pins the window
# (test_driver_window_allocation).
_QUERIES = (
    # extraction family
    ("extract_documents", ext.extract_documents, ext.EXTRACT_DOCUMENTS_SQL),
    ("assemble_documents", ext.assemble_documents, ext.ASSEMBLE_DOCUMENTS_SQL),
    ("extract_pdf_documents", ext.extract_pdf_documents,
     ext.EXTRACT_PDF_DOCUMENTS_SQL),
    ("pdf_page_explode", ext.pdf_page_explode, ext.PDF_PAGE_EXPLODE_SQL),
    ("pdf_layout_markdown", ext.pdf_layout_markdown,
     ext.PDF_LAYOUT_MARKDOWN_SQL),
    ("page_metadata", ext.page_metadata, ext.PAGE_METADATA_SQL),
    ("extract_fidelity", ext.extract_fidelity, ext.EXTRACT_FIDELITY_SQL),
    ("text_normalize", ext.text_normalize, ext.TEXT_NORMALIZE_SQL),
    # span dedup and DSIR weights
    ("dup_spans", dd.dup_spans, dd.DUP_SPANS_SQL),
    ("dedup_apply_spans", dd.dedup_apply_spans, dd.DEDUP_APPLY_SPANS_SQL),
    ("dsir_weights", cur.dsir_weights, cur.DSIR_WEIGHTS_SQL),
    # near-dup flagships
    ("minhash_dup_pairs", dd.minhash_dup_pairs, dd.MINHASH_DUP_PAIRS_SQL),
    ("near_dup_verified", dd.near_dup_verified, dd.NEAR_DUP_VERIFIED_SQL),
    # embedding, recall and link family
    ("doc_embeddings", emb.doc_embeddings, emb.DOC_EMBEDDINGS_SQL),
    ("doc_embed_knn", emb.doc_embed_knn, emb.DOC_EMBED_KNN_SQL),
    ("ann_lsh_recall", emb.ann_lsh_recall, emb.ANN_LSH_RECALL_SQL),
    ("ann_ivf_recall", emb.ann_ivf_recall, emb.ANN_IVF_RECALL_SQL),
    ("embedding_near_dup_lsh_recall", emb.embedding_near_dup_lsh_recall,
     emb.EMBEDDING_NEAR_DUP_LSH_RECALL_SQL),
    ("pagerank_step", links.pagerank_step, links.PAGERANK_STEP_SQL),
    # search, link and tokenizer queries
    ("hybrid_search", emb.hybrid_search, emb.HYBRID_SEARCH_SQL),
    ("anchor_texts", links.anchor_texts, links.ANCHOR_TEXTS_SQL),
    ("robots_filter", crawl.robots_filter, crawl.ROBOTS_FILTER_SQL),
    ("bpe_pair_counts", cur.bpe_pair_counts, cur.BPE_PAIR_COUNTS_SQL),
    ("bpe_merges", cur.bpe_merges, cur.BPE_MERGES_SQL),
    # curation, sketch, graph and crawl queries
    ("fuzzy_decontamination", dd.fuzzy_decontamination,
     dd.FUZZY_DECONTAMINATION_SQL),
    ("wet_export", ext.wet_export, ext.WET_EXPORT_SQL),
    ("dedup_soft_weights", dd.dedup_soft_weights, dd.DEDUP_SOFT_WEIGHTS_SQL),
    ("url_canonical_dedup", crawl.url_canonical_dedup,
     crawl.URL_CANONICAL_DEDUP_SQL),
    ("host_url_hll", crawl.host_url_hll, crawl.HOST_URL_HLL_SQL),
    ("heavy_hitters_cms", cur.heavy_hitters_cms, cur.HEAVY_HITTERS_CMS_SQL),
    ("containment_pairs", dd.containment_pairs, dd.CONTAINMENT_PAIRS_SQL),
    ("cdx_index", crawl.cdx_index, crawl.CDX_INDEX_SQL),
    ("corpus_curation", cur.corpus_curation, cur.CORPUS_CURATION_SQL),
    ("frontier_schedule", crawl.frontier_schedule,
     crawl.FRONTIER_SCHEDULE_SQL),
    ("doc_embed_semdedup", emb.doc_embed_semdedup, emb.DOC_EMBED_SEMDEDUP_SQL),
    ("gopher_rules", cur.gopher_rules, cur.GOPHER_RULES_SQL),
    ("seq_len_buckets", cur.seq_len_buckets, cur.SEQ_LEN_BUCKETS_SQL),
    ("bloom_dedup_probe", dd.bloom_dedup_probe, dd.BLOOM_DEDUP_PROBE_SQL),
    ("link_spam", links.link_spam, links.LINK_SPAM_SQL),
    ("hits_step", links.hits_step, links.HITS_STEP_SQL),
    ("robots_parse", crawl.robots_parse, crawl.ROBOTS_PARSE_SQL),
    ("embedding_outliers", emb.embedding_outliers, emb.EMBEDDING_OUTLIERS_SQL),
    ("mojibake_repair", ext.mojibake_repair, ext.MOJIBAKE_REPAIR_SQL),
    ("host_template_lines", dd.host_template_lines,
     dd.HOST_TEMPLATE_LINES_SQL),
    ("phrase_search", cur.phrase_search, cur.PHRASE_SEARCH_SQL),
    ("sitemap_parse", crawl.sitemap_parse, crawl.SITEMAP_PARSE_SQL),
    ("c4_filters", cur.c4_filters, cur.C4_FILTERS_SQL),
    ("warc_records", ext.warc_records, ext.WARC_RECORDS_SQL),
    ("line_dedup", dd.line_dedup, dd.LINE_DEDUP_SQL),
    ("classifier_scores", cur.classifier_scores, cur.CLASSIFIER_SCORES_SQL),
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: documents -> pages -> salted repartition -> Arrow
    extraction kernel -> extracted(url, markdown, spans, ...)."""
    pages = documents_as_pages_df(table(spark, SF0001, "documents"))
    out = run_extraction(spark, pages, describe=True)
    return out.select(
        "url", "warc_ts", "lang", "page_num",
        F.col("classification.type").alias("page_type"),
        F.col("classification.confidence").alias("confidence"),
        "method", "markdown", "spans", "n_chars", "n_figures",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: query for name, query, _ in _QUERIES}


def oracle_sql() -> dict[str, str]:
    return {
        name: oracle.replace(WITNESS_DIR, _WITNESS_DIR)
        for name, _, oracle in _QUERIES
    }
