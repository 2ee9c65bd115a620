#!/usr/bin/env python3
"""N→4N scaling of the salted north-rule plan on real executors.

Runs the same job on the same input at local-cluster[N,1,1024] and
local-cluster[4N,1,1024], N = max(1, cpus // 4), one child process per
level (Spark reuses an active session otherwise).  The package reaches
the executors only through dist/ocr_pipeline_spark.zip, rebuilt on
every run and passed as spark.submit.pyFiles; each level checks that an
executor imported it from there.  The timed job is bench.digest over
every output column, so the salted exchange moves whole extracted rows:
a warm-up, then best-of-2.  Both levels must give the same
(rows, digest), or the run exits non-zero.

Prints one JSON line (cpus, n_pages, rate and digest per level,
efficiency = rate_4N / rate_N / 4) and writes no file.

Usage: python scripts/scaling_bench.py [n_pages]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ZIP = os.path.join(REPO, "dist", "ocr_pipeline_spark.zip")

_CHILD = r"""
import json, os, shutil, sys
repo, k, n_pages, zip_path = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4]
sys.path.insert(0, repo)  # this process only: executors get the zip
from pyspark.find_spark_home import _find_spark_home
import bench
from ocr_pipeline_spark.plans.job import default_session, run_extraction

# LocalSparkCluster puts executor work dirs under <spark home>/work
work = os.path.join(_find_spark_home(), "work")
had_work = os.path.isdir(work)
# worker memory (1024 MB) must cover spark.executor.memory (1g default)
spark = default_session(f"local-cluster[{k},1,1024]", app_name=f"scale{k}",
                        shuffle_partitions=k,
                        extra={"spark.submit.pyFiles": zip_path})
spark.sparkContext.setLogLevel("ERROR")
app = spark.sparkContext.applicationId
try:
    origin = spark.sparkContext.parallelize([0], 1).map(
        lambda _: __import__("ocr_pipeline_spark").__file__).first()
    if os.path.basename(zip_path) + os.sep not in origin:
        sys.exit(f"executor imported ocr_pipeline_spark from {origin}, not the zip")
    pages = spark.read.parquet(bench.materialize_pages(spark, n_pages))

    def job(df):
        return bench.digest(
            run_extraction(spark, df, num_partitions=2 * k)).collect()[0]

    job(pages.limit(2000))  # warm-up: JIT, executor and Python worker start
    sec, row = bench.best_of_2(lambda: job(pages))
    print(json.dumps({"executors": k, "rows": row["n"], "digest": row["d"],
                      "sec": round(sec, 2), "docs_per_s": round(row["n"] / sec, 1)}))
finally:
    spark.stop()
    shutil.rmtree(os.path.join(work, app))
    if not had_work:
        os.rmdir(work)
"""


def level(k: int, n_pages: int) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, REPO, str(k), str(n_pages), ZIP],
        capture_output=True, text=True, cwd=REPO,
    )
    if out.returncode:
        sys.exit(f"level {k} failed:\n{out.stderr[-4000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 120_000
    cpus = len(os.sched_getaffinity(0))
    n = max(1, cpus // 4)
    subprocess.run(["bash", os.path.join(REPO, "scripts", "build_pyfiles.sh")],
                   check=True, capture_output=True)
    small, big = level(n, n_pages), level(4 * n, n_pages)
    if (small["rows"], small["digest"]) != (big["rows"], big["digest"]):
        sys.exit(f"levels disagree: {small} vs {big}")
    print(json.dumps({
        "cpus": cpus, "n_pages": n_pages, "N": small, "4N": big,
        "efficiency": round(big["docs_per_s"] / small["docs_per_s"] / 4, 3),
    }))


if __name__ == "__main__":
    main()
