"""The extraction job: scan → Arrow kernel → salted repartition →
bucketed write with manifest resume + metrics.

Physical plan notes (SURVEY.md §3.4/§4):
  * column pruning: only (url, warc_ts, html, lang) are selected, so
    Catalyst pushes the projection into the scan — the wide `text`
    column is never read;
  * the kernel is one narrow mapInPandas over Arrow batches, capped at
    ARROW_BATCH_ROWS records per batch for multi-MB html blobs;
  * shuffles: at most two — the optional salted host repartition of
    the EXTRACTED rows (key (hash(host), hash(url) % salt): pages
    co-locate by host, bounded to `salt` sub-buckets so Zipf-skewed
    hosts cannot pin a task — the north rule's explicit skew handling)
    and the output repartition by bucket before the write (one file
    per bucket).  Both shuffle markdown-sized rows, never the html.
"""

from __future__ import annotations

import time

from pyspark import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_pipeline_spark.operators.extract_op import (
    EXTRACTED_DDL,
    fused_extract_kernel,
)
from ocr_pipeline_spark.sources.catalog import (
    DEFAULT_BUCKETS,
    PKEY_COL,
    open_catalog,
    with_bucket,
)

INPUT_COLUMNS = ("url", "warc_ts", "html", "lang")

# Arrow batches carry multi-MB html blobs; keep batches small enough to
# bound executor memory (SURVEY.md §7.3).
ARROW_BATCH_ROWS = "512"


def default_session(
    master: str = "local[*]",
    app_name: str = "ocr-pipeline-spark",
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    import os

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", ARROW_BATCH_ROWS)
        # html shuffle blocks compress ~3x better under zstd than lz4:
        # measured +50% on the salted co-location plan (21.3k -> 32.0k
        # docs/s at local[32]); at cluster scale it cuts shuffle I/O of
        # the one input-sized exchange by the same factor
        .config("spark.io.compression.codec", "zstd")
        # local mode: the driver JVM is the only memory pool; multi-KB
        # binary html cells also need a smaller columnar reader batch
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        )
        .config("spark.sql.parquet.columnarReaderBatchSize", "1024")
        # UI is opt-in (SPARK_GRAFT_UI=1): off by default so bench runs
        # and tests don't pay the UI server; `extra` overrides either way
        .config(
            "spark.ui.enabled",
            "true" if os.environ.get("SPARK_GRAFT_UI", "0") == "1" else "false",
        )
    )
    if shuffle_partitions:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def salted_repartition(
    df: DataFrame, num_partitions: int, salt: int = 8
) -> DataFrame:
    """Host-affine, skew-bounded repartition.

    Key = (xxhash64(host(url)), xxhash64(url) % salt): one host's pages
    land in at most `salt` partitions — co-location for cache locality
    and politeness-style grouping, without letting a mega-host (Zipf
    head) pin one task (SURVEY.md §4.4).
    """
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    return df.repartition(
        num_partitions,
        F.xxhash64(host),
        F.pmod(F.xxhash64(F.col("url")), F.lit(salt)),
    )


def run_extraction(
    spark: SparkSession,
    pages: DataFrame,
    describe: bool = True,
    num_partitions: int | None = None,
    salt: int = 8,
    co_locate_hosts: bool = True,
    counters: dict | None = None,
    bucket_metrics: tuple | None = None,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> extracted DataFrame.

    The narrow kernel runs on scan splits (kernel parallelism rides on
    them; tune spark.sql.files.maxPartitionBytes at scale).

    `co_locate_hosts`: the north rule's salted host shuffle (default),
    placed AFTER the kernel so it moves the extracted rows —
    markdown-sized payloads, ~3× fewer bytes than raw html.  Catalyst
    pushes narrow transforms below exchanges for built-in expressions;
    it cannot see through an opaque Python kernel, so this plan does
    the same reordering by hand.  Extraction itself is per-row, so
    when no downstream operator needs host grouping,
    `co_locate_hosts=False` skips the exchange and runs map-only;
    output is byte-identical either way (tested).
    """
    out = pages.select(*INPUT_COLUMNS).mapInPandas(
        fused_extract_kernel(describe, counters, bucket_metrics),
        schema=EXTRACTED_DDL,
    )
    if co_locate_hosts:
        if num_partitions is None:
            num_partitions = spark.sparkContext.defaultParallelism * 2
        out = salted_repartition(out, num_partitions, salt)
    return out


# --- metrics (graft of the reference's summary metrics, A5/K3) -----------------
def partition_metrics(extracted_with_pkey: DataFrame, run_id: str) -> DataFrame:
    """Per-bucket lineage/metrics rows (FIXTURES.md §4 `metrics` schema)."""
    return extracted_with_pkey.groupBy(PKEY_COL).agg(
        F.lit(run_id).alias("run_id"),
        F.count("*").alias("n_docs"),
        F.sum("n_html_bytes").alias("n_bytes"),
        F.sum("n_chars").alias("n_chars_out"),
        F.sum(F.when(F.col("n_chars") == 0, 1).otherwise(0)).alias("n_empty"),
        F.sum("n_figures").alias("n_figures"),
        F.sum(
            F.when(F.col("method") == "diagram-describe-v1", 1).otherwise(0)
        ).alias("n_described"),
    )


_METRICS_DDL = (
    f"{PKEY_COL} int, run_id string, n_docs bigint, n_bytes bigint, "
    "n_chars_out bigint, n_empty bigint, n_figures bigint, n_described bigint"
)


class _BucketMetricsParam(AccumulatorParam):
    """Dict accumulator: {pkey: 6-tuple of metric sums}, merged by
    element-wise addition — the carrier for kernel-side lineage metrics
    (metrics_mode='observe')."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, v in b.items():
            cur = a.get(k)
            a[k] = v if cur is None else tuple(x + y for x, y in zip(cur, v))
        return a


def _metrics_from_acc(spark, acc_value: dict, keys, run_id):
    """Kernel-accumulated per-bucket sums -> the partition_metrics frame
    (buckets that produced zero rows are omitted, matching the
    committed-scan shape)."""
    keyset = {int(k) for k in keys}
    rows = [
        (int(pk), run_id) + tuple(int(x) for x in sums)
        for pk, sums in sorted(acc_value.items())
        if int(pk) in keyset and sums[0]
    ]
    # ONE slice: a plain createDataFrame spreads the rows over
    # defaultParallelism partitions, and write_metrics' coalesce(1)
    # would then evaluate those python partitions sequentially in one
    # task (~140 ms of worker handshake EACH — measured 5 s for 32)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), _METRICS_DDL
    )


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    warehouse: str,
    run_id: str,
    table: str = "extracted",
    describe: bool = True,
    n_buckets: int = DEFAULT_BUCKETS,
    chunk_size: int | None = None,
    num_partitions: int | None = None,
    salt: int = 8,
    co_locate_hosts: bool = True,
    max_chunks: int | None = None,
    metrics_mode: str = "committed",
) -> dict:
    """The resumable end-to-end job (SURVEY.md §3.4).

    Buckets pending for `run_id` are processed in chunks; each chunk is
    written with dynamic partition overwrite and only then manifest-
    committed, so a kill between chunks (or mid-chunk) resumes with no
    duplicates and no missing urls.  `max_chunks` exists for the
    kill/resume tests.

    `metrics_mode`:
      * ``"committed"`` (default) — lineage metrics come from a
        column-pruned re-read of the files just committed: metrics
        describe exactly the bytes on disk, at the cost of a second
        (pruned) scan of the chunk's output.
      * ``"observe"`` — per-bucket metrics are accumulated INSIDE the
        extraction kernel during the write action (dict accumulator
        keyed by pkey, computed in-kernel via the bit-exact Python twin
        of the bucket function), eliminating the re-read entirely.
        Commit counts still come from parquet footers, so the resume
        manifest remains grounded in committed files.  Same accumulator
        retry caveat as the P7 counters (a re-executed map stage can
        double-count) — which is why committed-scan metrics stay the
        default where lineage must be exact under failures.  (A
        CollectMetrics/Observation variant was measured first
        and REJECTED: 6 aggregates × buckets of per-row conditional
        evaluation made the sf0.1 write 40% slower than the re-read it
        replaced.)
    """
    if metrics_mode not in ("committed", "observe"):
        raise ValueError(f"unknown metrics_mode: {metrics_mode!r}")
    catalog = open_catalog(spark, warehouse)
    t_start = time.time()
    # kernel-side progress counters (P7): filled by the extraction kernel
    # itself during the write action — no extra scan
    counters = {
        name: spark.sparkContext.accumulator(0)
        for name in ("pages", "empty_pages", "described_pages")
    }

    done = catalog.completed_buckets(table, run_id)
    pending = [k for k in range(n_buckets) if k not in done]
    if not pending:
        return {
            "run_id": run_id, "n_buckets": n_buckets, "skipped": n_buckets,
            "processed_buckets": [], "n_docs": 0, "seconds": 0.0,
            "counters": {name: 0 for name in counters},
        }

    # pkey is a pure function of warc_ts, so chunk selection happens on
    # the INPUT: on a bucket(warc_ts)-partitioned table this is partition
    # pruning at the scan — a resumed run never re-extracts completed
    # buckets (SURVEY.md §4.4).
    bucketed_pages = with_bucket(pages, n_buckets)

    chunk = chunk_size or len(pending)
    chunks = [pending[i : i + chunk] for i in range(0, len(pending), chunk)]
    if max_chunks is not None:
        chunks = chunks[:max_chunks]

    processed: list[int] = []
    total_docs = 0
    for keys in chunks:
        pages_chunk = bucketed_pages.filter(
            F.col(PKEY_COL).isin([int(k) for k in keys])
        )
        metrics_acc = None
        if metrics_mode == "observe":
            # fresh accumulator per chunk: values accumulate for exactly
            # the buckets this chunk writes
            metrics_acc = spark.sparkContext.accumulator(
                {}, _BucketMetricsParam()
            )
        extracted = with_bucket(
            run_extraction(
                spark, pages_chunk, describe=describe,
                num_partitions=num_partitions, salt=salt,
                co_locate_hosts=co_locate_hosts,
                counters=counters,
                bucket_metrics=(
                    (metrics_acc, n_buckets) if metrics_acc is not None else None
                ),
            ),
            n_buckets,
        )
        # one output file per bucket per chunk (bounded small-file count)
        subset = extracted.repartition(len(keys), F.col(PKEY_COL))
        catalog.overwrite_buckets(table, subset)
        if metrics_acc is not None:
            # the write action above populated the accumulator
            metrics = _metrics_from_acc(spark, metrics_acc.value, keys, run_id)
        else:
            # lineage metrics from the committed files (column-pruned scan)
            committed = catalog.read(table).filter(
                F.col(PKEY_COL).isin([int(k) for k in keys])
            )
            metrics = partition_metrics(committed, run_id)
        metrics = metrics.withColumn(
            "t_end", F.lit(time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()))
        )
        catalog.write_metrics(table, metrics)
        counts = catalog.bucket_row_counts(table, keys)
        for k in keys:
            catalog.commit_bucket(table, run_id, k, counts.get(k, 0))
        processed.extend(int(k) for k in keys)
        total_docs += sum(counts.values())

    return {
        "run_id": run_id,
        "n_buckets": n_buckets,
        "skipped": len(done),
        "processed_buckets": processed,
        "n_docs": total_docs,
        "seconds": round(time.time() - t_start, 3),
        "counters": {name: acc.value for name, acc in counters.items()},
    }
