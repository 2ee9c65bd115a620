"""Golden-witness fixture freshness (scripts/gen_witness.py).

The extraction-family oracles SELECT from committed witness parquets
generated by the single-process kernel loop.  These tests re-derive
every witness in-process and fail if a kernel/fixture change made the
committed files stale — a stale witness would otherwise turn the
driver's hash compare into a false red (or worse, pin an outdated
kernel behavior)."""

import os
import sys

import pandas as pd
import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)

import gen_witness  # noqa: E402


@pytest.mark.parametrize("name", sorted(gen_witness.WITNESSES))
def test_witness_fixture_fresh(name):
    committed_path = os.path.join(gen_witness.WITNESS_DIR, f"{name}.parquet")
    assert os.path.exists(committed_path), (
        f"missing witness fixture — run scripts/gen_witness.py ({committed_path})"
    )
    committed = pd.read_parquet(committed_path)
    fresh = gen_witness.WITNESSES[name]()
    pd.testing.assert_frame_equal(
        committed.reset_index(drop=True), fresh.reset_index(drop=True)
    )


def test_witness_rows_nontrivial():
    """A witness that silently regenerated empty would make the oracle
    vacuous; pin the corpus-determined sizes and require the
    variable-size pair witnesses to be non-empty."""
    sizes = {
        "extract_documents": 500,
        "assemble_documents": 1880,
        "extract_pdf_documents": 400,
        "pdf_page_explode": 1205,
        "page_metadata": 500,
        "fuzzy_decontamination": 5,  # the five planted %89 eval leaks
        "wet_export": 8,             # one row per content-addressed shard
    }
    for name, n in sizes.items():
        df = pd.read_parquet(os.path.join(gen_witness.WITNESS_DIR, f"{name}.parquet"))
        assert len(df) == n, (name, len(df))
    for name in ("minhash_dup_pairs", "near_dup_verified"):
        df = pd.read_parquet(os.path.join(gen_witness.WITNESS_DIR, f"{name}.parquet"))
        assert len(df) > 0, name
