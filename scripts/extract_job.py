#!/usr/bin/env python3
"""spark-submit entrypoint — the graft of the reference's CLI contract
(reference src/ocr_pipeline.py:386-455, entrypoint.py:9-45).

    spark-submit --py-files dist/ocr_pipeline_spark.zip \
        scripts/extract_job.py \
        --input  <pages parquet path or iceberg table> \
        --warehouse <output warehouse dir> \
        --run-id R1 [--table extracted] [--buckets 64] [--chunk-size 8] \
        [--no-describe-diagrams] [--synthetic N] [-v]

The batch job extracts each chunk of buckets map-only, repartitions
the extracted rows once by bucket, writes one file per bucket, then
commits lineage metrics (read back from the committed files) and the
resume manifest.

Env-var equivalents (graft of OCR_* vars, docs/DEPLOYMENT_PLAN.md:205-216):
    EXTRACT_INPUT, EXTRACT_WAREHOUSE, EXTRACT_RUN_ID,
    EXTRACT_DESCRIBE_DIAGRAMS=0/1, EXTRACT_VERBOSE=0/1
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# direct `python scripts/extract_job.py` runs (no --py-files zip): make
# the repo root importable
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="PySpark main-content extraction")
    p.add_argument("--input", default=os.environ.get("EXTRACT_INPUT"))
    p.add_argument("--warehouse", default=os.environ.get("EXTRACT_WAREHOUSE"))
    p.add_argument("--run-id", default=os.environ.get("EXTRACT_RUN_ID", "run1"))
    p.add_argument("--table", default="extracted")
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--chunk-size", type=int, default=None)
    p.add_argument(
        "--no-describe-diagrams", action="store_true",
        default=os.environ.get("EXTRACT_DESCRIBE_DIAGRAMS", "1") == "0",
    )
    p.add_argument(
        "--synthetic", type=int, default=None,
        help="generate N synthetic pages instead of reading --input",
    )
    p.add_argument(
        "-v", "--verbose", action="store_true",
        default=os.environ.get("EXTRACT_VERBOSE", "0") == "1",
    )
    args = p.parse_args(argv)
    if not args.warehouse:
        p.error("--warehouse (or EXTRACT_WAREHOUSE) is required")
    if not args.input and args.synthetic is None:
        p.error("--input (or EXTRACT_INPUT) or --synthetic is required")
    return args


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from pyspark.sql import SparkSession

    from ocr_pipeline_spark.plans.job import run_pipeline

    # an in-process caller's session keeps its own log level
    owns_session = SparkSession.getActiveSession() is None
    spark = SparkSession.builder.appName(
        f"extract-{args.run_id}"
    ).getOrCreate()
    if owns_session and not args.verbose:
        spark.sparkContext.setLogLevel("WARN")

    if args.synthetic is not None:
        from ocr_pipeline_spark.fixtures.gen_pages import generate_pages_df

        pages = generate_pages_df(spark, args.synthetic)
    elif args.input.startswith("iceberg:"):
        pages = spark.read.format("iceberg").load(args.input[len("iceberg:"):])
    else:
        pages = spark.read.parquet(args.input)

    summary = run_pipeline(
        spark, pages, args.warehouse, args.run_id,
        table=args.table,
        describe=not args.no_describe_diagrams,
        n_buckets=args.buckets,
        chunk_size=args.chunk_size,
    )
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
