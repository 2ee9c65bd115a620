"""IcebergCatalog: selection logic + generated SQL + protocol calls.

The sandbox has no Iceberg runtime jar, so the data path can't execute
here; these tests pin (a) open_catalog routing, (b) the exact DDL/DML
the class emits, and (c) the call protocol against a recording fake —
so the first run on a real cluster has no untested branches in OUR
code, only Iceberg's.
"""

import pytest

from ocr_pipeline_spark.sources.catalog import (
    MANIFEST_STATUS_DONE,
    IcebergCatalog,
    ParquetCatalog,
    open_catalog,
)


# --- open_catalog routing ----------------------------------------------------
def test_open_catalog_defaults_to_parquet(spark, tmp_path):
    cat = open_catalog(spark, str(tmp_path))
    assert isinstance(cat, ParquetCatalog)
    assert cat.warehouse == str(tmp_path)


def test_open_catalog_detects_iceberg_impl(spark, tmp_path):
    spark.conf.set(
        "spark.sql.catalog.graft", "org.apache.iceberg.spark.SparkCatalog"
    )
    try:
        cat = open_catalog(spark, str(tmp_path))
        assert isinstance(cat, IcebergCatalog)
        assert cat.catalog == "graft"
    finally:
        spark.conf.unset("spark.sql.catalog.graft")
    assert isinstance(open_catalog(spark, str(tmp_path)), ParquetCatalog)


def test_open_catalog_explicit_name_wins(spark, tmp_path):
    spark.conf.set("spark.graft.catalog", "lake")
    try:
        cat = open_catalog(spark, str(tmp_path))
        assert isinstance(cat, IcebergCatalog)
        assert cat.catalog == "lake"
    finally:
        spark.conf.unset("spark.graft.catalog")


# --- generated SQL -----------------------------------------------------------
def _cat():
    return IcebergCatalog(spark=None, catalog_name="lake", namespace="graft")


def test_create_table_sql():
    c = _cat()
    sql = c._create_table_sql("lake.graft.extracted", "url string, pkey int", ("pkey",))
    assert sql == (
        "CREATE TABLE IF NOT EXISTS lake.graft.extracted "
        "(url string, pkey int) USING iceberg PARTITIONED BY (pkey)"
    )
    assert "PARTITIONED" not in c._create_table_sql("t", "a int")


def test_schema_ddl_roundtrips_spark_types(spark):
    df = spark.createDataFrame(
        [], "url string, warc_ts timestamp, html binary, spans array<struct<a:int,b:int>>"
    )
    assert IcebergCatalog._schema_ddl(df.schema) == (
        "url string, warc_ts timestamp, html binary, "
        "spans array<struct<a:int,b:int>>"
    )


def test_merge_manifest_sql_is_idempotent_upsert():
    sql = _cat()._merge_manifest_sql("lake.graft.extracted__manifest")
    assert sql.startswith("MERGE INTO lake.graft.extracted__manifest m ")
    assert "ON m.run_id = s.run_id AND m.pkey = s.pkey" in sql
    assert "WHEN MATCHED THEN UPDATE SET *" in sql
    assert "WHEN NOT MATCHED THEN INSERT *" in sql


# --- protocol against a recording fake --------------------------------------
class _Result:
    def __init__(self, rows):
        self._rows = rows

    def collect(self):
        return self._rows


class _Row:
    def __init__(self, **kw):
        self.__dict__.update(kw)


class _FakeCatalogApi:
    def __init__(self, exists):
        self._exists = exists

    def tableExists(self, ident):
        return self._exists


class _FakeSpark:
    def __init__(self, manifest_exists=True, sql_rows=()):
        self.catalog = _FakeCatalogApi(manifest_exists)
        self.sql_calls = []
        self._rows = list(sql_rows)

    def sql(self, q, args=None):
        self.sql_calls.append((q, args))
        return _Result(self._rows)


def test_completed_buckets_reads_manifest():
    fake = _FakeSpark(sql_rows=[_Row(pkey=3), _Row(pkey=7)])
    c = IcebergCatalog(fake, "lake")
    assert c.completed_buckets("extracted", "r1") == {3, 7}
    q, args = fake.sql_calls[0]
    assert "FROM lake.graft.extracted__manifest" in q
    assert args == {"run_id": "r1", "status": MANIFEST_STATUS_DONE}


def test_completed_buckets_empty_when_no_manifest_table():
    fake = _FakeSpark(manifest_exists=False)
    c = IcebergCatalog(fake, "lake")
    assert c.completed_buckets("extracted", "r1") == set()
    assert fake.sql_calls == []


def test_commit_bucket_ensures_then_merges():
    fake = _FakeSpark()
    c = IcebergCatalog(fake, "lake")
    c.commit_bucket("extracted", "r1", 5, 1234)
    queries = [q for q, _ in fake.sql_calls]
    assert queries[0] == "CREATE NAMESPACE IF NOT EXISTS lake.graft"
    assert queries[1].startswith(
        "CREATE TABLE IF NOT EXISTS lake.graft.extracted__manifest"
    )
    assert queries[2].startswith("MERGE INTO")
    _, args = fake.sql_calls[2]
    assert args["pkey"] == 5 and args["n_docs"] == 1234
    assert args["status"] == MANIFEST_STATUS_DONE


def test_bucket_row_counts_uses_partitions_metadata():
    fake = _FakeSpark(sql_rows=[_Row(pkey=0, n=10), _Row(pkey=2, n=7)])
    c = IcebergCatalog(fake, "lake")
    counts = c.bucket_row_counts("extracted", [0, 1, 2])
    assert counts == {0: 10, 1: 0, 2: 7}
    q, _ = fake.sql_calls[0]
    assert "FROM lake.graft.extracted.partitions" in q
    assert "sum(record_count)" in q


def test_pipeline_still_uses_parquet_fallback(spark, tmp_path):
    """run_pipeline routes through open_catalog; with no Iceberg conf the
    behavior is the (fully tested) parquet path, unchanged."""
    from ocr_pipeline_spark.fixtures.gen_pages import generate_pages_df
    from ocr_pipeline_spark.plans.job import run_pipeline

    pages = generate_pages_df(spark, n_rows=60, seed=7)
    summary = run_pipeline(
        spark, pages, str(tmp_path / "wh"), run_id="r-ice", n_buckets=4
    )
    assert summary["n_docs"] == 60
    assert sorted(summary["processed_buckets"]) == [0, 1, 2, 3]

