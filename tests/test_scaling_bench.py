"""scripts/scaling_bench.py end to end at a small n: the --py-files
contract on real executors.  test_pyfiles_zip checks what the zip holds;
this checks that local-cluster executors import the package from it and
that both levels extract the same rows."""

import json
import os
import subprocess
import sys

from pyspark.find_spark_home import _find_spark_home

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_PAGES = 2000


def _executor_pids() -> set[str]:
    out = subprocess.run(["pgrep", "-f", "CoarseGrainedExecutorBackend"],
                         capture_output=True, text=True)
    return set(out.stdout.split())


def _listing(path: str) -> set[str] | None:
    return set(os.listdir(path)) if os.path.isdir(path) else None


def test_harness_runs_both_levels_on_executors_from_the_zip():
    work = os.path.join(_find_spark_home(), "work")
    work_before, pids_before = _listing(work), _executor_pids()
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "scaling_bench.py"),
         str(N_PAGES)],
        capture_output=True, text=True, cwd=REPO, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    lines = out.stdout.strip().splitlines()
    assert len(lines) == 1, out.stdout
    result = json.loads(lines[0])
    small, big = result["N"], result["4N"]
    assert big["executors"] == 4 * small["executors"]
    assert small["rows"] == big["rows"] == N_PAGES
    assert small["digest"] == big["digest"]
    assert _listing(work) == work_before
    assert not _executor_pids() - pids_before
