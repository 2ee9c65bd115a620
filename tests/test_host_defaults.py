"""Defaults that must fit the host they run on."""

from ocr_pipeline_spark.plans import job


def _meminfo(tmp_path, total_kb):
    path = tmp_path / "meminfo"
    path.write_text(
        f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n"
    )
    return str(path)


def test_driver_memory_is_half_of_memtotal(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    # a 15.3 GiB host: half of it, in MiB
    assert job.driver_memory(_meminfo(tmp_path, 16_093_000)) == "7857m"
    assert job.driver_memory(_meminfo(tmp_path, 1024)) == "1m"


def test_driver_memory_is_capped_at_48g(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert job.driver_memory(_meminfo(tmp_path, 512 << 20)) == "49152m"
    assert job.driver_memory(str(tmp_path / "missing")) == "49152m"
    (tmp_path / "garbled").write_text("MemTotal: lots\n")
    assert job.driver_memory(str(tmp_path / "garbled")) == "49152m"


def test_driver_memory_env_wins(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert job.driver_memory(_meminfo(tmp_path, 16_093_000)) == "3g"
