"""The spark-submit artifact must never go stale: every tracked source
module ships in dist/ocr_pipeline_spark.zip, and nothing else does (the round-4 modules were
missing from a zip built months of commits earlier — a cluster submit
would have ImportError'd on warc/layout/semdedup)."""

import glob
import os
import subprocess
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_pyfiles_zip_contains_every_source_module():
    zip_path = os.path.join(REPO, "dist", "ocr_pipeline_spark.zip")
    if not os.path.exists(zip_path):
        # dist/ is untracked build output — bootstrap it on a fresh
        # clone so the suite verifies the BUILD SCRIPT's completeness;
        # an existing-but-stale zip still fails below (the regression
        # this test exists for: editing source without rebuilding).
        subprocess.run(
            ["bash", os.path.join(REPO, "scripts", "build_pyfiles.sh")],
            check=True,
            capture_output=True,
        )
    assert os.path.exists(zip_path), "run scripts/build_pyfiles.sh"
    missing, stale = [], []
    sources = {
        os.path.relpath(f, REPO)
        for f in glob.glob(
            os.path.join(REPO, "ocr_pipeline_spark", "**", "*.py"),
            recursive=True,
        )
    }
    with zipfile.ZipFile(zip_path) as z:
        names = set(z.namelist())
        # a module deleted from the tree but still in the zip would keep
        # shipping to every executor
        orphans = sorted(
            n for n in names if n.endswith(".py") and n not in sources
        )
        for rel in sorted(sources):
            f = os.path.join(REPO, rel)
            if rel not in names:
                missing.append(rel)
                continue
            # byte-compare too: a zip that has the module but an OLD
            # copy of it would pass a presence-only check and still
            # ship wrong code to every executor
            with open(f, "rb") as fh:
                if z.read(rel) != fh.read():
                    stale.append(rel)
    assert not missing, f"modules missing from dist zip, rebuild: {missing}"
    assert not stale, f"stale module bytes in dist zip, rebuild: {stale}"
    assert not orphans, f"modules with no source in dist zip, rebuild: {orphans}"
