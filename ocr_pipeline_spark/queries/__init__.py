"""The driver's query families, each query next to its DuckDB oracle.

Every module defines `(spark, sf_dir) -> DataFrame` query bodies and,
right after each one, the SQL its result must hash-match (`<NAME>_SQL`);
`__spark_entry__.py` lists them in one ordered (name, query, oracle)
table.

    common      the table reader, the synthetic url shape, witness inputs
    extraction  html/PDF pages through the kernel, assembly, WARC and WET
    dedup       span, line, near-dup, containment and Bloom dedup
    embeddings  text embeddings, ANN recall, SemDeDup, hybrid search
    links       the host link graph: PageRank, HITS, link spam, anchors
    crawl       robots, sitemaps, frontier, CDX, url canonicalization, HLL
    curation    quality filters, tokenizer statistics, resampling weights

Queries that generate their input build it at one fixed size, the size
of their golden witness (scripts/gen_witness.py), so their oracles hold
at every scale factor.  This module imports nothing, so the witness
generator can read the sizes without pyspark.
"""

# synthetic pages behind assemble_documents, anchor_texts and the host
# link graph (pagerank_step, link_spam, hits_step)
WITNESS_PAGES = 2000
# synthetic PDFs behind pdf_page_explode, pdf_layout_markdown and
# extract_pdf_documents
WITNESS_PDFS = 400
SEED = 42
