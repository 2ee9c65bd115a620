"""SemDeDup: semantic (embedding-space) deduplication (X43).

Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
through semantic deduplication" — the published pipeline shape:

  1. k-means the corpus embeddings (spherical / cosine),
  2. within each cluster, rank members farthest-from-centroid first,
  3. drop a member if any HIGHER-RANKED member of its cluster is within
     cosine ``tau`` (the released implementation's single-pass,
     non-cascading rule: the comparison set is all earlier-ranked
     members, kept or not).

The reference repo has no semantic-dedup stage (its corpus is page
images — /root/reference/src/stage2_ocr.py); this extends the graft's
training-data surface (SURVEY.md §2.8) with the embedding-level
counterpart of MinHash dedup.

Scale architecture:
  - Centroid training collects a BOUNDED deterministic sample (smallest
    md5(id) rows — stable across partitioning and replicable without
    Spark, which is what lets the single-process witness twin prove the
    distributed output exactly) and runs Lloyd on the driver: O(sample)
    rows move, never the corpus.
  - Cell assignment is a broadcast-centroids Arrow kernel: narrow map
    over the scan, no shuffle.
  - The dedup itself shuffles ONCE on the cell id; per-cell work is an
    in-memory GEMM (exactly the paper's regime — cluster sizes are a
    knob: n_cells scales with corpus so cells stay ~50k rows).

Bit-exact determinism (required for the golden-witness oracle): every
cross-row float reduction that could see different row subsets under
different partitionings is computed as a fixed-order per-row sum over
the (constant) embedding dimension — never a BLAS call whose internal
blocking depends on the batch's row count.  The per-cell pair GEMM IS
BLAS, but both engines hand it the identical matrix (same members, same
(cent_sim ASC, id ASC) sort), so the output is bit-identical.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

__all__ = [
    "lloyd_spherical",
    "normalize_rows",
    "cell_sims",
    "semdedup_cell",
    "train_centroids_sample",
    "semdedup",
]


# --------------------------------------------------------------------------
# pure numpy kernels — shared by the Spark path and the single-process
# witness twin (scripts/gen_witness.py), so equality proves the
# distributed pipeline end-to-end
# --------------------------------------------------------------------------
def normalize_rows(X: np.ndarray) -> np.ndarray:
    """L2-normalize rows in float64; the norm is a per-row reduction
    over the embedding dimension, so it does not depend on which other
    rows share the batch."""
    X = np.asarray(X, dtype=np.float64)
    n = np.sqrt((X * X).sum(axis=1, keepdims=True))
    return X / np.maximum(n, 1e-12)


def cell_sims(Vn: np.ndarray, Cn: np.ndarray) -> np.ndarray:
    """Row-vs-centroid cosine matrix WITHOUT BLAS: the reduction runs
    over the constant embedding dimension only, so each row's sims are
    bit-identical no matter how rows are batched (BLAS GEMM blocking
    can vary with the row count, which would break witness equality
    across partitionings)."""
    return (Vn[:, None, :] * Cn[None, :, :]).sum(axis=2)


def lloyd_spherical(
    X: np.ndarray, n_cells: int, iters: int = 8
) -> np.ndarray:
    """Spherical k-means on a (sample) matrix: argmax-cosine assign,
    centroid = normalized member sum.  Init = first ``n_cells`` rows
    (the caller passes rows in a deterministic hash order, so the init
    is content-addressed, not partition-dependent).  Empty cells keep
    their previous centroid."""
    Xn = normalize_rows(X)
    n_cells = min(n_cells, len(Xn))
    C = Xn[:n_cells].copy()
    for _ in range(iters):
        assign = np.argmax(cell_sims(Xn, C), axis=1)
        for c in range(n_cells):
            members = Xn[assign == c]
            if len(members):
                m = members.sum(axis=0)
                nm = np.sqrt((m * m).sum())
                if nm > 1e-12:
                    C[c] = m / nm
    return C


def semdedup_cell(
    ids: np.ndarray, Vn: np.ndarray, cent_sim: np.ndarray, tau: float
) -> pd.DataFrame:
    """The paper's per-cluster rule on one cell's members: rank by
    (cent_sim ASC, id ASC) — farthest-from-centroid first — and drop a
    member iff some earlier-ranked member is within cosine ``tau``.
    Single pass, non-cascading (matches the released SemDeDup code: the
    comparison set is earlier-ranked members whether or not they were
    themselves kept)."""
    order = np.lexsort((ids, cent_sim))  # cent_sim asc, id asc
    ids_s, Vn_s, cs_s = ids[order], Vn[order], cent_sim[order]
    m = len(ids_s)
    if m <= 1:
        keep = np.ones(m, dtype=np.int32)
    else:
        # identical matrix on both engines (same members, same sort), so
        # BLAS output is bit-identical here even though it's a GEMM
        M = Vn_s @ Vn_s.T
        hit = (M >= tau) & np.tri(m, m, -1, dtype=bool).T
        keep = (~hit.any(axis=0)).astype(np.int32)
    return pd.DataFrame(
        {
            "vec_id": pd.Series(ids_s, dtype="int64"),
            "cent_sim": pd.Series(cs_s, dtype="float64"),
            "keep": pd.Series(keep, dtype="int32"),
        }
    )


# --------------------------------------------------------------------------
# Spark operators
# --------------------------------------------------------------------------
def train_centroids_sample(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: int = 8,
    sample_n: int = 256,
    iters: int = 8,
) -> list[list[float]]:
    """Driver-side spherical k-means on a bounded deterministic sample:
    the ``sample_n`` smallest-md5(id) rows.  md5 (not xxhash64) so the
    Spark-free witness twin selects the exact same sample; the transfer
    is O(sample_n * dim) regardless of corpus size."""
    rows = (
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy(F.md5(F.col("_id").cast("string")), "_id")
        .limit(sample_n)
        .collect()
    )
    X = np.array([list(r._v) for r in rows], dtype=np.float64)
    return [[float(x) for x in row] for row in lloyd_spherical(X, n_cells, iters)]


def semdedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[list[float]],
    tau: float,
) -> DataFrame:
    """Distributed SemDeDup: assign cells + centroid similarity in a
    narrow Arrow kernel (broadcast centroids, no shuffle), then ONE
    shuffle on the cell id and a per-cell GEMM keep/drop pass.

    Returns (vec_id, cell, cent_sim, keep) — keep=0 rows are the
    semantic duplicates the training set drops."""
    Cn = normalize_rows(np.array(centroids, dtype=np.float64))

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            Vn = normalize_rows(
                np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            )
            sims = cell_sims(Vn, Cn)
            cell = np.argmax(sims, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pd.Series(
                        pdf[id_col].to_numpy(), dtype="int64"
                    ),
                    "cell": pd.Series(cell, dtype="int32"),
                    "cent_sim": pd.Series(
                        sims[np.arange(len(cell)), cell], dtype="float64"
                    ),
                    # normalized vector rides to the cell shuffle so the
                    # per-cell kernel never re-reads the corpus
                    "nv": list(Vn),
                }
            )

    celled = df.select(id_col, vec_col).mapInPandas(
        assign,
        schema="vec_id long, cell int, cent_sim double, nv array<double>",
    )

    def dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        out = semdedup_cell(
            pdf["vec_id"].to_numpy(),
            np.array([list(v) for v in pdf["nv"]], dtype=np.float64),
            pdf["cent_sim"].to_numpy(),
            tau,
        )
        out.insert(1, "cell", np.int32(pdf["cell"].iloc[0]))
        return out

    return celled.groupBy("cell").applyInPandas(
        dedup_cell,
        schema="vec_id long, cell int, cent_sim double, keep int",
    )
