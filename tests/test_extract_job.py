"""The spark-submit entrypoint (scripts/extract_job.py): its flags and
one end-to-end batch run through `main`."""

import json
import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)

import extract_job  # noqa: E402


def test_removed_incremental_flag_is_rejected(tmp_path):
    with pytest.raises(SystemExit) as exc:
        extract_job.parse_args(
            ["--input", "pages", "--warehouse", str(tmp_path), "--incremental"]
        )
    assert exc.value.code == 2


def test_main_runs_the_batch_job(spark, tmp_path, capsys):
    from ocr_pipeline_spark.sources.catalog import open_catalog

    warehouse = str(tmp_path)
    try:
        rc = extract_job.main(
            ["--synthetic", "200", "--warehouse", warehouse, "--buckets", "4"]
        )
    finally:
        spark.sparkContext.setLogLevel("ERROR")  # main sets WARN
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["n_docs"] == 200
    assert summary["n_buckets"] == 4 and summary["skipped"] == 0
    assert sorted(summary["processed_buckets"]) == [0, 1, 2, 3]
    committed = open_catalog(spark, warehouse).completed_buckets("extracted", "run1")
    assert committed == {0, 1, 2, 3}
