"""Definitions the query families share, each with its SQL twin."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_pipeline_spark.fixtures.gen_pages import generate_pages_df
from ocr_pipeline_spark.fixtures.gen_pdfs import generate_pdfs_df
from ocr_pipeline_spark.queries import SEED, WITNESS_PAGES, WITNESS_PDFS

# Oracles name the golden-witness directory by this token.
# __spark_entry__.oracle_sql() replaces it with the directory next to
# the driver module: a path taken from this package's __file__ would
# point inside the --py-files zip when the package ships that way.
WITNESS_DIR = "$WITNESS_DIR"


def witness(name: str) -> str:
    """DuckDB scan of one golden-witness parquet."""
    return f"read_parquet('{WITNESS_DIR}/{name}.parquet')"


def witness_sql(name: str, columns: str, order: str) -> str:
    """Oracle that reads a query's result straight from its witness."""
    return f"SELECT {columns} FROM {witness(name)} ORDER BY {order}"


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def synth_urls(d: DataFrame) -> DataFrame:
    """Deterministic synthetic url per document, the one url shape of
    every crawl-side query.  Keeps doc_id/text/lang and adds url, host,
    path and hn (the numeric host id the per-host rule synthesizers key
    on)."""
    return d.select(
        "doc_id",
        "text",
        "lang",
        F.concat(F.lit("https://"), "source",
                 F.lit(".example.com/docs/"), "doc_id").alias("url"),
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        F.concat(F.lit("/docs/"), "doc_id").alias("path"),
        F.regexp_extract("source", r"src(\d+)", 1).cast("int").alias("hn"),
    )


def synth_urls_sql(documents: str = "documents") -> str:
    """SQL twin of synth_urls over a documents relation."""
    return rf"""
        SELECT doc_id, text,
               'https://' || source || '.example.com/docs/' || doc_id AS url,
               source || '.example.com' AS host,
               '/docs/' || doc_id AS path,
               CAST(regexp_extract(source, 'src(\d+)', 1) AS INT) AS hn
        FROM {documents}
    """


SYNTH_URLS_SQL = synth_urls_sql()


def synth_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(host, hn) of every synthetic host."""
    return (
        synth_urls(table(spark, sf_dir, "documents"))
        .select("host", "hn")
        .distinct()
    )


SYNTH_HOSTS_SQL = f"SELECT DISTINCT host, hn FROM ({SYNTH_URLS_SQL})"


def witness_pages(spark: SparkSession, cross_links: bool = False) -> DataFrame:
    """The synthetic pages corpus at its witness size."""
    return generate_pages_df(
        spark, WITNESS_PAGES, seed=SEED, cross_links=cross_links
    )


def witness_pdfs(spark: SparkSession) -> DataFrame:
    """The synthetic PDF corpus at its witness size."""
    return generate_pdfs_df(spark, WITNESS_PDFS, seed=SEED)
