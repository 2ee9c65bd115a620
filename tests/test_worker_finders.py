"""`extract_op.drop_zip_finders`: after it, `importlib.invalidate_caches()`
(which a PySpark worker calls at the start of every task) re-reads no zip
archive, and an import from the zip still works without re-reading it.
Then the same on a reused Spark worker."""

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from ocr_pipeline_spark.operators.extract_op import drop_zip_finders

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_no_zip_reread_after_drop(tmp_path, monkeypatch):
    archive = str(tmp_path / "finders.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zfpkg/__init__.py", "")
        z.writestr("zfpkg/a.py", "A = 1\n")
        z.writestr("zfpkg/sub/__init__.py", "")
        z.writestr("zfpkg/sub/b.py", "B = 2\n")
    saved_path, saved_modules = list(sys.path), set(sys.modules)
    sys.path.insert(0, archive)
    try:
        import zfpkg.a  # noqa: F401

        reads = []
        real_read = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return real_read(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting_read)
        importlib.invalidate_caches()
        assert reads, "the cached zip finders re-read the archive"

        drop_zip_finders()
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []
        from zfpkg.sub import b

        assert b.B == 2
        assert reads == []
    finally:
        sys.path[:] = saved_path
        for name in set(sys.modules) - saved_modules:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)


_CHILD = """
import json, sys, zipimport
import pandas as pd
from ocr_pipeline_spark.fixtures.gen_pages import PAGES_SCHEMA_DDL, generate_rows
from ocr_pipeline_spark.plans.job import default_session, run_extraction

spark = default_session("local[1]", app_name="finders", shuffle_partitions=1)
spark.sparkContext.setLogLevel("ERROR")
# driver-side rows: the extraction task is the first task of the one
# Python worker, so the finders its own imports cache are what is probed
pages = spark.createDataFrame(generate_rows(20, seed=11), PAGES_SCHEMA_DDL)
run_extraction(spark, pages, co_locate_hosts=False).write.format(
    "noop").mode("overwrite").save()


def probe(batches):
    import pyspark

    finders = sum(isinstance(f, zipimport.zipimporter)
                  for f in sys.path_importer_cache.values())
    for _ in batches:
        pass
    yield pd.DataFrame({
        "zip_finders": [finders],
        "pyspark_in_zip": [isinstance(pyspark.__loader__, zipimport.zipimporter)],
    })


row = spark.range(1, numPartitions=1).mapInPandas(
    probe, "zip_finders long, pyspark_in_zip boolean").collect()[0]
print(json.dumps(row.asDict()))
spark.stop()
"""


def test_reused_worker_holds_no_zip_finders():
    """One extraction job on a reused worker (`local[1]`), then a probe
    task counts the zip finders left for its `invalidate_caches()`: the
    imports the extraction task made must not leave any behind."""
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", _CHILD], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    row = json.loads(out.stdout.strip().splitlines()[-1])
    if not row["pyspark_in_zip"]:
        pytest.skip("the worker imports pyspark from a directory, not a zip")
    assert row["zip_finders"] == 0
