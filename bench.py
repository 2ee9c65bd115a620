#!/usr/bin/env python3
"""Benchmark harness: prints ONE compact JSON line.

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": <float>,
     "docs_per_sec": ..., "docs_per_sec_maponly": ...,
     "docs_per_sec_e2e_write": ...}

Headline: end-to-end extraction (docs/sec) over a deterministic
synthetic pages table sized by SF (materialized to parquet once and
reused), plus every queries() entry at $SPARK_GRAFT_SF_DIR.  Each leg
and query is timed best-of-2 after a warm-up.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: the CPUs this process may run on),
     BENCH_N_PAGES (override page count),
     BENCH_MODE=full|extract (default full).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.1


# pages per unit SF: sf0.1 -> 400k synthetic pages (~650 MB parquet)
PAGES_PER_SF = 4_000_000
SEED = 42
_HASH_MOD = 1 << 40  # sum of 40-bit row hashes cannot overflow a long


def materialize_pages(spark, n_pages: int) -> str:
    """Generate-once, reuse: the bench input parquet, deterministic."""
    path = f"/tmp/spark_graft_bench/pages_n{n_pages}_s{SEED}"
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        from ocr_pipeline_spark.fixtures.gen_pages import generate_pages_df

        generate_pages_df(spark, n_pages, SEED).write.mode("overwrite").parquet(path)
    return path


def digest(df):
    """Order-independent (n, d): row count and digest over every column.

    A bare count("*") lets Catalyst prune every column but the
    repartition keys, so the salted exchange would move urls, not
    extracted rows."""
    from pyspark.sql import functions as F

    row_hash = F.pmod(F.xxhash64(*df.columns), F.lit(_HASH_MOD))
    return df.agg(F.count("*").alias("n"), F.sum(row_hash).alias("d"))


def best_of_2(fn):
    """(seconds, result) of the faster of two runs."""
    runs = []
    for _ in range(2):
        t0 = time.time()
        result = fn()
        runs.append((time.time() - t0, result))
    return min(runs, key=lambda r: r[0])


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    sf = _sf_from_dir(sf_dir)
    n_pages = int(os.environ.get("BENCH_N_PAGES", str(int(PAGES_PER_SF * sf))))
    mode = os.environ.get("BENCH_MODE", "full")

    from pyspark.sql import functions as F

    from ocr_pipeline_spark.plans.job import default_session, run_extraction

    spark = default_session(
        f"local[{cpus}]", app_name="bench", shuffle_partitions=cpus
    )
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    headline: dict[str, float] = {}  # docs/s, on the stdout line

    pages_path = materialize_pages(spark, n_pages)

    # warm-up (excluded from timings): JVM JIT + Python worker pool
    # spin-up, so the first timed run measures the job, not the runtime
    run_extraction(
        spark, spark.read.parquet(pages_path).limit(2000), describe=True,
        co_locate_hosts=False,
    ).agg(F.count("*")).collect()

    # --- headline: end-to-end extraction ---------------------------------
    def _extract(co_locate: bool) -> int:
        return digest(run_extraction(
            spark, spark.read.parquet(pages_path), describe=True,
            num_partitions=cpus * 2, co_locate_hosts=co_locate,
        )).collect()[0]["n"]

    # (a) north-rule plan: salted host co-location shuffle after the kernel
    t_extract, n_out = best_of_2(lambda: _extract(True))
    timings["extract_pages"] = round(t_extract, 3)
    headline["docs_per_sec"] = round(n_out / t_extract, 1)

    # (b) map-only fast path (no input shuffle) — byte-identical output
    t_map, _ = best_of_2(lambda: _extract(False))
    timings["extract_pages_maponly"] = round(t_map, 3)
    headline["docs_per_sec_maponly"] = round(n_pages / t_map, 1)

    # (c) full pipeline incl. sink: map-only kernel, one repartition by
    # bucket, bucketed write + manifests + metrics
    import shutil
    import tempfile

    from ocr_pipeline_spark.plans.job import run_pipeline

    def _pipeline() -> None:
        wh = tempfile.mkdtemp(prefix="bench_wh_")
        try:
            run_pipeline(
                spark, spark.read.parquet(pages_path), wh, run_id="bench",
                describe=True, n_buckets=32,
            )
        finally:
            shutil.rmtree(wh, ignore_errors=True)

    t_pipe, _ = best_of_2(_pipeline)
    timings["extract_pipeline_write"] = round(t_pipe, 3)
    headline["docs_per_sec_e2e_write"] = round(n_pages / t_pipe, 1)

    if mode == "full":
        import __spark_entry__ as entry_mod

        qs = entry_mod.queries()
        bench_queries = list(qs)
        if sf != entry_mod.LINK_WITNESS_SF:
            # their oracles exist only at the witness scale; they raise
            bench_queries = [
                q for q in bench_queries if q not in ("link_spam", "hits_step")
            ]
        for name in bench_queries:
            t_query, _ = best_of_2(
                lambda: qs[name](spark, sf_dir).agg(F.count("*")).collect()
            )
            timings[name] = round(t_query, 3)

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "extracted docs/sec (byte-identical per url) + query suite sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        **headline,
    }
    spark.stop()
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    sys.exit(main())
