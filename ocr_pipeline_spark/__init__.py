"""ocr_pipeline_spark — a PySpark-native main-content extraction engine.

A from-scratch reimplementation of the *capabilities* of the reference
OCR pipeline (Twozee-Tech/OCR-Pipeline) as a distributed batch job over
a Common-Crawl-style table of web pages:

    pages(url string, warc_ts timestamp, html binary, text string, lang string)
        -> extracted(url, warc_ts, markdown, spans, classification, metrics...)

Layout:
    kernel/    pure-Python extraction kernel (no Spark imports): DOM
               tokenization, block segmentation, page classification,
               markdown emission, the deterministic cleaning chain, and
               per-document assembly.  Every function is pure and
               deterministic — this is what makes the distributed output
               byte-identical to a single-process run.
    operators/ Spark-side operators: Arrow-vectorized wrappers of the
               kernel (mapInPandas / applyInPandas), text analytics and
               dedup operators for training-data pipelines.
    sources/   table IO: Iceberg when a catalog is configured, otherwise
               an Iceberg-shaped partitioned-parquet fallback with a
               manifest table for atomic-ish commits and resume.
    plans/     end-to-end jobs: extraction with optional salted host
               partitioning, and the resumable bucketed write (one
               shuffle, checkpoint/resume, lineage metrics).
    fixtures/  deterministic synthetic `pages` generator (seeded; Zipf
               host skew; page-taxonomy template library).
    queries/   the driver's query families, each query next to its
               DuckDB oracle; only __spark_entry__.py and tests import it.
"""

__version__ = "0.1.0"
