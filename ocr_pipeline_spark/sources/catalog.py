"""Warehouse IO with manifest-based resume.

North-rule requirements this module carries (SURVEY.md §4.4):
  * output partitioned by a bucket of ``warc_ts`` (the Iceberg
    ``bucket(warc_ts)`` layout, emulated on parquet via directory
    partitioning by a ``pkey`` column);
  * checkpointed task manifests: a partition bucket is only marked
    complete after its data is durably committed, so a killed run
    resumes exactly where it stopped — completed buckets are skipped,
    partially-written buckets are rewritten (dynamic partition
    overwrite makes the rewrite idempotent);
  * per-partition lineage/metrics rows written alongside the data.

On a real cluster with an Iceberg catalog configured
(``spark.sql.catalog.<name>``), `open_catalog` returns an
IcebergCatalog whose appends are atomic snapshot commits and whose
manifest is the same protocol over a table instead of JSON files.  In
this sandbox (no Iceberg runtime jar) the parquet fallback provides
identical semantics at directory granularity.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PKEY_COL = "pkey"
DEFAULT_BUCKETS = 16

MANIFEST_STATUS_DONE = "committed"


def with_bucket(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Add the Iceberg-style bucket(warc_ts) partition column."""
    return df.withColumn(
        PKEY_COL, F.pmod(F.xxhash64(F.col("warc_ts")), F.lit(n_buckets)).cast("int")
    )


class ParquetCatalog:
    """Iceberg-shaped warehouse on partitioned parquet + JSON manifests.

    Layout:
        <warehouse>/<table>/data/pkey=<k>/part-*.parquet
        <warehouse>/<table>/_manifest/<run_id>/pkey-<k>.json
        <warehouse>/<table>/_metrics/<run_id>-<chunk>.parquet
    """

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse

    # -- paths -------------------------------------------------------------
    def data_path(self, table: str) -> str:
        return os.path.join(self.warehouse, table, "data")

    def _manifest_dir(self, table: str, run_id: str) -> str:
        return os.path.join(self.warehouse, table, "_manifest", run_id)

    def metrics_path(self, table: str) -> str:
        return os.path.join(self.warehouse, table, "_metrics")

    # -- manifest protocol ---------------------------------------------------
    def completed_buckets(self, table: str, run_id: str) -> set[int]:
        mdir = self._manifest_dir(table, run_id)
        if not os.path.isdir(mdir):
            return set()
        done = set()
        for name in os.listdir(mdir):
            if name.startswith("pkey-") and name.endswith(".json"):
                with open(os.path.join(mdir, name)) as fh:
                    entry = json.load(fh)
                if entry.get("status") == MANIFEST_STATUS_DONE:
                    done.add(int(entry["pkey"]))
        return done

    def commit_bucket(
        self, table: str, run_id: str, pkey: int, n_docs: int
    ) -> None:
        """Atomic (write-then-rename) manifest commit for one bucket."""
        mdir = self._manifest_dir(table, run_id)
        os.makedirs(mdir, exist_ok=True)
        entry = {
            "run_id": run_id,
            "pkey": int(pkey),
            "status": MANIFEST_STATUS_DONE,
            "n_docs": int(n_docs),
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump(entry, fh)
        os.replace(tmp, os.path.join(mdir, f"pkey-{int(pkey)}.json"))

    # -- data ------------------------------------------------------------------
    def overwrite_buckets(self, table: str, df: DataFrame) -> None:
        """Write df (must contain PKEY_COL), replacing only the partition
        directories present in df — idempotent rewrite for resume.
        zstd: ~30% smaller than snappy on markdown text at similar write
        cost — at 100 TB output scale the storage/IO saving dominates."""
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .option("compression", "zstd")
            .partitionBy(PKEY_COL)
            .parquet(self.data_path(table))
        )

    def bucket_row_counts(self, table: str, pkeys: list[int]) -> dict[int, int]:
        """Row counts from parquet footers only (no data read)."""
        import pyarrow.parquet as pq

        counts: dict[int, int] = {}
        for k in pkeys:
            pdir = os.path.join(self.data_path(table), f"{PKEY_COL}={int(k)}")
            total = 0
            if os.path.isdir(pdir):
                for name in os.listdir(pdir):
                    if name.endswith(".parquet"):
                        total += pq.ParquetFile(os.path.join(pdir, name)).metadata.num_rows
            counts[int(k)] = total
        return counts

    def read(self, table: str) -> DataFrame:
        return self.spark.read.parquet(self.data_path(table))

    def write_metrics(self, table: str, df: DataFrame) -> None:
        """Per-bucket lineage rows, idempotent under retries: partitioned
        by (run_id, pkey) with dynamic overwrite, so re-processing a
        bucket replaces its metrics instead of double-counting.

        The frame is one row per bucket (tiny); coalesce(1) writes all
        partition dirs from a single task instead of paying per-task
        commit overhead for 32 one-row files."""
        (
            df.coalesce(1)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("run_id", PKEY_COL)
            .parquet(self.metrics_path(table))
        )

    def read_metrics(self, table: str) -> DataFrame:
        return self.spark.read.parquet(self.metrics_path(table))


class IcebergCatalog:
    """The manifest/resume protocol of ParquetCatalog over a real
    Iceberg catalog — atomic snapshot commits, metadata-only counts.

    Tables (all `USING iceberg` in `<catalog>.<namespace>`):
        <table>              PARTITIONED BY (pkey)      -- data
        <table>__manifest    unpartitioned              -- resume state
        <table>__metrics     PARTITIONED BY (run_id, pkey)

    Every operation goes through SQL / DataFrameWriterV2, so any
    catalog implementing DSv2 + the Iceberg SQL extensions works:
      * `overwrite_buckets` -> `writeTo().overwritePartitions()` — the
        dynamic-overwrite semantic as ONE atomic snapshot (the parquet
        fallback gets directory granularity instead);
      * `commit_bucket` -> one MERGE transaction (idempotent upsert);
      * `bucket_row_counts` -> sum(record_count) over the `.partitions`
        metadata table — the Iceberg analog of footer-only counts, no
        data files are read.

    Code-complete but exercised on clusters with the Iceberg runtime
    jar; the sandbox suite covers catalog selection and the generated
    SQL (tests/test_catalog_iceberg.py), and the parquet fallback stays
    the tested default.
    """

    MANIFEST_DDL = (
        "run_id string, pkey int, status string, n_docs bigint, "
        "committed_at string"
    )

    def __init__(self, spark: SparkSession, catalog_name: str,
                 namespace: str = "graft"):
        self.spark = spark
        self.catalog = catalog_name
        self.namespace = namespace

    # -- identifiers / DDL ---------------------------------------------------
    def _ident(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.{table}"

    @staticmethod
    def _schema_ddl(schema) -> str:
        return ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in schema.fields
        )

    def _create_table_sql(
        self, ident: str, cols_ddl: str, partition_cols: tuple[str, ...] = ()
    ) -> str:
        part = (
            f" PARTITIONED BY ({', '.join(partition_cols)})"
            if partition_cols
            else ""
        )
        return f"CREATE TABLE IF NOT EXISTS {ident} ({cols_ddl}) USING iceberg{part}"

    def _merge_manifest_sql(self, ident: str) -> str:
        return (
            f"MERGE INTO {ident} m USING (SELECT :run_id AS run_id, "
            f"CAST(:pkey AS int) AS pkey, :status AS status, "
            f"CAST(:n_docs AS bigint) AS n_docs, :ts AS committed_at) s "
            f"ON m.run_id = s.run_id AND m.pkey = s.pkey "
            f"WHEN MATCHED THEN UPDATE SET * "
            f"WHEN NOT MATCHED THEN INSERT *"
        )

    def _ensure(self, ident: str, cols_ddl: str,
                partition_cols: tuple[str, ...] = ()) -> None:
        self.spark.sql(
            f"CREATE NAMESPACE IF NOT EXISTS {self.catalog}.{self.namespace}"
        )
        self.spark.sql(self._create_table_sql(ident, cols_ddl, partition_cols))

    # -- manifest protocol ---------------------------------------------------
    def completed_buckets(self, table: str, run_id: str) -> set[int]:
        ident = self._ident(f"{table}__manifest")
        if not self.spark.catalog.tableExists(ident):
            return set()
        rows = self.spark.sql(
            f"SELECT pkey FROM {ident} WHERE run_id = :run_id "
            f"AND status = :status",
            args={"run_id": run_id, "status": MANIFEST_STATUS_DONE},
        ).collect()
        return {int(r.pkey) for r in rows}

    def commit_bucket(
        self, table: str, run_id: str, pkey: int, n_docs: int
    ) -> None:
        """Idempotent upsert — one Iceberg MERGE transaction."""
        ident = self._ident(f"{table}__manifest")
        self._ensure(ident, self.MANIFEST_DDL)
        self.spark.sql(
            self._merge_manifest_sql(ident),
            args={
                "run_id": run_id,
                "pkey": int(pkey),
                "status": MANIFEST_STATUS_DONE,
                "n_docs": int(n_docs),
                "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            },
        )

    # -- data ----------------------------------------------------------------
    def overwrite_buckets(self, table: str, df: DataFrame) -> None:
        ident = self._ident(table)
        self._ensure(ident, self._schema_ddl(df.schema), (PKEY_COL,))
        df.writeTo(ident).overwritePartitions()

    def bucket_row_counts(self, table: str, pkeys: list[int]) -> dict[int, int]:
        """Metadata-only counts from the `.partitions` metadata table."""
        ident = self._ident(table)
        rows = self.spark.sql(
            f"SELECT partition.{PKEY_COL} AS pkey, "
            f"sum(record_count) AS n FROM {ident}.partitions "
            f"GROUP BY partition.{PKEY_COL}"
        ).collect()
        by = {int(r.pkey): int(r.n) for r in rows}
        return {int(k): by.get(int(k), 0) for k in pkeys}

    def read(self, table: str) -> DataFrame:
        return self.spark.table(self._ident(table))

    def write_metrics(self, table: str, df: DataFrame) -> None:
        ident = self._ident(f"{table}__metrics")
        self._ensure(ident, self._schema_ddl(df.schema), ("run_id", PKEY_COL))
        df.coalesce(1).writeTo(ident).overwritePartitions()

    def read_metrics(self, table: str) -> DataFrame:
        return self.spark.table(self._ident(f"{table}__metrics"))


def open_catalog(spark: SparkSession, warehouse: str):
    """Factory: IcebergCatalog if one is configured on the session,
    else the parquet fallback.

    Selection order:
      1. `spark.graft.catalog` — explicit catalog name (set it when the
         Iceberg catalog is registered under a non-standard name);
      2. `spark.sql.catalog.graft` / `spark.sql.catalog.spark_catalog`
         whose implementation class mentions Iceberg;
      3. ParquetCatalog on `warehouse` (the sandbox default).
    """
    try:
        explicit = spark.conf.get("spark.graft.catalog")
    except Exception:
        explicit = None
    if explicit:
        return IcebergCatalog(spark, explicit)
    for key in ("spark.sql.catalog.graft", "spark.sql.catalog.spark_catalog"):
        try:
            impl = spark.conf.get(key)
        except Exception:
            impl = None
        if impl and "iceberg" in str(impl).lower():
            return IcebergCatalog(spark, key.rsplit(".", 1)[-1])
    return ParquetCatalog(spark, warehouse)
