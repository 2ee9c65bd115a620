"""Text analytics & dedup operators for training-data pipelines.

All column expressions stay JVM-side (pyspark.sql.functions, codegen'd);
Python appears only in Arrow-batched kernels (normalization, mojibake
repair, minhash) where per-char/state logic genuinely can't be
expressed as built-ins.  Everything is deterministic.
"""

from __future__ import annotations

import re
import sys
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# =========================================================================
# Column-level text features (pure JVM expressions)
# =========================================================================

def exact_dup_key(col: Column) -> Column:
    """Exact-dedup hash key (md5 hex — same bytes in Spark and DuckDB)."""
    return F.md5(col.cast("binary"))


# C0 controls except \t\n\r, plus DEL — the characters a curation
# normalize pass strips (they break tokenizers and leak from broken
# charset transcodes); kept in sync with the DuckDB oracle's RE2 class
# in queries/extraction.TEXT_NORMALIZE_SQL
_CTRL_RE = re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]")


def normalize_text(text: str) -> str:
    """CCNet-style canonicalization: Unicode NFC composition + control
    stripping.  Pure function; NFC via Python's unicodedata, which the
    oracle cross-checks against DuckDB's independent utf8proc
    implementation byte-for-byte."""
    import unicodedata

    return _CTRL_RE.sub("", unicodedata.normalize("NFC", text or ""))


def normalize_kernel(text_col: str = "text", out_col: str = "norm"):
    """mapInPandas kernel factory: adds the NFC-normalized column.
    Arrow-batched — NFC has no JVM built-in, so this is the sanctioned
    Python boundary (same policy tier as with_minhash).  NULL text
    stays NULL (SQL semantics — the DuckDB oracle's nfc_normalize /
    md5 propagate NULL, so the kernel must too; normalize_text's
    None -> "" total contract is for direct Python callers)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = [
                None if t is None else normalize_text(t)
                for t in pdf[text_col]
            ]
            yield pdf

    return kernel


# =========================================================================
# Mojibake detection + repair (ftfy-style encoding fix)
# =========================================================================
def mojibake_garble(text: str) -> str:
    """The classic corruption model: a document's UTF-8 bytes misread
    as Latin-1 ('é' -> 'Ã©', ''' -> 'â\\x80\\x99').  Every byte is a
    valid Latin-1 code point, so this is total and exactly invertible —
    which is what makes the repair oracle byte-exact.  (ftfy's default
    model is cp1252; Latin-1 is the invertible member of the family —
    cp1252 leaves 5 bytes unmapped and needs a fallback.)"""
    return (text or "").encode("utf-8").decode("latin-1")


def mojibake_repair(garbled: str) -> tuple[int, int, bool, str]:
    """Detect UTF-8-as-Latin-1 mojibake and repair it.  Returns
    (n_chars, n_marks, did_repair, repaired) where n_marks counts the
    non-ASCII marker characters (each one was a byte >= 0x80 of the
    original UTF-8) and did_repair says the lead-byte heuristic fired
    AND the Latin-1 re-encode round-tripped as valid UTF-8.

    Detection: any char in U+00C2..U+00F4 — the Latin-1 images of
    UTF-8 lead bytes 0xC2-0xF4.  Every multi-byte UTF-8 sequence
    starts with one, so the heuristic fires iff the text contains
    mojibake under this model (no false negatives); prose that
    legitimately uses those characters ('Ã', 'â'...) round-trips only
    when its codepoint sequence happens to BE valid UTF-8, which for
    natural text it essentially never is — then the repair is a no-op
    fall-through."""
    g = garbled or ""
    n_marks = sum(1 for c in g if ord(c) >= 0x80)
    detected = any(0xC2 <= ord(c) <= 0xF4 for c in g)
    if detected:
        try:
            return len(g), n_marks, True, g.encode("latin-1").decode("utf-8")
        except (UnicodeEncodeError, UnicodeDecodeError):
            pass
    return len(g), n_marks, False, g


def mojibake_repair_kernel(text_col: str = "text"):
    """mapInPandas kernel factory: (doc_id, text) -> (doc_id, n_chars,
    n_marks, did_repair, repaired).  The kernel garbles the clean
    fixture text under the UTF-8-as-Latin-1 model and then repairs it,
    so the pipeline under test is detect->repair and the invariant is
    repaired == original, byte for byte.  Narrow — no shuffle; both
    codec passes are C-side per Arrow batch."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fixed = [
                mojibake_repair(mojibake_garble(t)) for t in pdf[text_col]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_chars": [f[0] for f in fixed],
                    "n_marks": [f[1] for f in fixed],
                    "did_repair": [f[2] for f in fixed],
                    "repaired": [f[3] for f in fixed],
                }
            )

    return kernel


# =========================================================================
# MinHash + LSH near-dup detection (kernel for signatures, DataFrame
# ops for banding/bucketing — the scale path is the band-bucket join)
# =========================================================================
_SHINGLE_W = 5      # words per shingle
_N_PERM = 64        # minhash permutations
_N_BANDS = 16       # LSH bands (4 rows/band)

# deterministic permutation parameters (seeded once, module-level):
# odd multipliers are bijections of Z_2^64, so min over (a*h mod 2^64)
# is a true permutation MinHash — and uint64 wraparound multiply is
# numpy-native, letting the 64-permutation min run as one matrix op
import random as _random

_perm_rng = _random.Random(0x5EED)
_PERM_MULTS = [_perm_rng.randrange(1, 1 << 64, 2) for _ in range(_N_PERM)]

import numpy as _np

_PERM_MULTS_NP = _np.array(_PERM_MULTS, dtype=_np.uint64)


def _shingle_hashes(text: str) -> "_np.ndarray":
    """Stable 64-bit hashes of the text's 5-word shingles (blake2b —
    one C call per shingle, PYTHONHASHSEED-independent)."""
    from hashlib import blake2b

    words = (text or "").split()
    if len(words) < _SHINGLE_W:
        shingles = {" ".join(words)} if words else set()
    else:
        shingles = {
            " ".join(words[i : i + _SHINGLE_W])
            for i in range(len(words) - _SHINGLE_W + 1)
        }
    if not shingles:
        return _np.empty(0, dtype=_np.uint64)
    return _np.array(
        [
            int.from_bytes(blake2b(s.encode(), digest_size=8).digest(), "big")
            for s in shingles
        ],
        dtype=_np.uint64,
    )


def minhash_signature(text: str) -> list[int]:
    """64-permutation MinHash over 5-word shingles (vectorized)."""
    hashes = _shingle_hashes(text)
    if not len(hashes):
        return [0] * _N_PERM
    # (perm, shingle) wraparound products; min per permutation; >>1 keeps
    # values in non-negative LongType range (monotone, order-preserving)
    mins = (hashes[None, :] * _PERM_MULTS_NP[:, None]).min(axis=1) >> _np.uint64(1)
    return [int(x) for x in mins]


def with_minhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """`df` plus a `minhash` array<bigint> column, the signature of
    `text_col`, added in one Arrow pass."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pdf.assign(
                minhash=[minhash_signature(t) for t in pdf[text_col]]
            )

    return df.mapInPandas(kernel, schema=T.StructType(
        df.schema.fields
        + [T.StructField("minhash", T.ArrayType(T.LongType()))]
    ))


# Hot-bucket cap: a band bucket shared by more than this many documents
# would pay an O(n^2) intra-bucket pair explosion inside a single task at
# corpus scale, so it degrades to linear star edges (intra_bucket_pairs).
_MAX_BUCKET = 64


def log_overflow_metrics(observation, label: str) -> None:
    """Surface a bucket-audit Observation in the driver log without
    blocking the caller: Observation.get blocks until the first action
    consumes the observed plan, so a daemon thread waits for the metrics
    and prints them — the "no silent caps" audit trail is then visible
    in any run that executes the query, with zero extra computation.
    If the query is never executed the thread parks harmlessly."""
    import threading

    def _wait() -> None:
        try:
            metrics = observation.get
        except Exception:
            return
        # stderr, NOT stdout: bench.py's contract is exactly one JSON
        # line on stdout, and this thread can fire mid-bench.
        print(f"[lineage] {label}: {metrics}", file=sys.stderr, flush=True)

    threading.Thread(target=_wait, daemon=True, name=f"obs-{label}").start()


def intra_bucket_pairs(
    grouped: DataFrame,
    max_bucket: int = _MAX_BUCKET,
    observation=None,
) -> DataFrame:
    """(id_a < id_b) pair expansion over bucket rows, hot buckets capped.

    `grouped` needs an array column `ids` (one row per bucket).  Buckets
    with more than `max_bucket` members never pay the quadratic
    expansion: one ubiquitous band signature at 10^12-doc scale is a
    single bucket with millions of ids — a pair explosion no shuffle
    strategy survives.  An over-cap bucket emits star edges instead:
    min(ids) paired with each other member, m-1 pairs, linear in bucket
    size.  Band-signature buckets (MinHash LSH) hold whole-document
    features, so a crawl cluster of >max_bucket mirrors/templated copies
    shares EVERY band bucket; dropping over-cap buckets would emit zero
    pairs for exactly the most duplicated content, while the star keeps
    the connected component intact for downstream connected_components.

    Pair count per bucket is hard-bounded at max(max_bucket*(max_bucket
    -1)/2, n-1).

    Pass a pyspark.sql.Observation as `observation` to get
    (total_buckets, overflow_buckets) metrics reported with the first
    action that consumes the result — the count is the operator's
    audit trail.  Caveat: if the downstream result is completely empty,
    AQE's empty-relation propagation can elide the CollectMetrics node
    and Observation.get will fail — read the metrics only on non-empty
    results (at corpus scale the pair set is never empty).
    """
    sized = grouped.withColumn("_n", F.size("ids"))
    if observation is not None:
        sized = sized.observe(
            observation,
            F.count(F.lit(1)).alias("total_buckets"),
            F.count(F.when(F.col("_n") > max_bucket, 1)).alias("overflow_buckets"),
        )
    full_expr = (
        "filter(flatten(transform(ids, a -> transform(ids, b -> "
        "struct(a, b)))), p -> p.a < p.b)"
    )
    # ONE conditional pair-array per bucket row — a union of two
    # filtered branches would duplicate the grouped subtree in the plan
    # (the upstream kernel/aggregate runs once per consumer unless
    # exchange reuse saves it; a single select needs no saving)
    star_expr = (
        "transform(filter(ids, x -> x > array_min(ids)), "
        "x -> named_struct('a', array_min(ids), 'b', x))"
    )
    return sized.filter(F.col("_n") >= 2).select(
        F.explode(
            F.when(F.col("_n") <= max_bucket, F.expr(full_expr)).otherwise(
                F.expr(star_expr)
            )
        ).alias("p")
    ).select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))


def _band_table(
    df: DataFrame, id_col: str, sig_col: str = "minhash"
) -> DataFrame:
    """(id, band, band_hash) — one row per LSH band of each signature.
    Band hash = xxhash64 over the band's signature rows (JVM, codegen);
    shared by the self-join path (lsh_candidate_pairs) and the
    bipartite path (cross_corpus_near_dups) so both bucket identically."""
    rows_per_band = _N_PERM // _N_BANDS
    return df.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            *[
                                F.col(sig_col)[b * rows_per_band + r]
                                for r in range(rows_per_band)
                            ],
                        )
                    )
                    for b in range(_N_BANDS)
                ]
            )
        ).alias("band", "band_hash"),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    sig_col: str = "minhash",
    max_bucket: int = _MAX_BUCKET,
    observation=None,
) -> DataFrame:
    """MinHash-LSH candidate pairs via band-bucket self-grouping.

    Scale path: explode signatures into (band, band_hash) buckets,
    group by bucket, emit intra-bucket pairs — the shuffle is on band
    hashes, never a cross join; hot buckets (> max_bucket ids) degrade
    to linear star edges instead of the quadratic expansion (see
    intra_bucket_pairs: band signatures are whole-document features, so
    a >max_bucket bucket is a mirror/template cluster whose component
    must stay connected).  Output: (id_a, id_b) with id_a < id_b,
    distinct.
    """
    banded = _band_table(df, id_col, sig_col)
    grouped = banded.groupBy("band", "band_hash").agg(
        F.collect_list(id_col).alias("ids")
    )
    return intra_bucket_pairs(grouped, max_bucket, observation).distinct()


def _char_grams(text: str, n: int) -> set[str]:
    """The text's character n-gram set; a text shorter than n is its own
    single gram."""
    return {text[i : i + n] for i in range(max(len(text) - n + 1, 0))} or {text}


def _block_intersections(texts, n: int):
    """Gram-set intersections of every doc pair of one block, as
    (ia, ib, n_inter, size_a, size_b) over the upper triangle.

    ONE boolean gram-matrix product per block instead of m^2/2 Python
    set intersections: M (docs x vocab) 0/1 float32, then inter =
    M @ M.T — counts are exact integers in float32 up to 2^24 (a doc
    has far fewer grams than that).  BLAS turns the block's whole pair
    grid into a single GEMM, and the gram-set sizes are its diagonal."""
    grams = [_char_grams(t or "", n) for t in texts]
    vocab: dict[str, int] = {}
    for gs in grams:
        for g in gs:
            if g not in vocab:
                vocab[g] = len(vocab)
    M = _np.zeros((len(grams), len(vocab)), dtype=_np.float32)
    for i, gs in enumerate(grams):
        M[i, [vocab[g] for g in gs]] = 1.0
    inter = _np.rint(M @ M.T).astype(_np.int64)
    sizes = inter.diagonal()
    ia, ib = _np.triu_indices(len(grams), k=1)
    return ia, ib, inter[ia, ib], sizes[ia], sizes[ib]


def _blocked_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    n: int,
    max_block: int,
    cols: tuple[str, ...],
    score,
    observation=None,
) -> DataFrame:
    """The shell of the blocked exact-gram operators: one shuffle on the
    block key, then per block (docs in id order) the pair grid from
    `_block_intersections`, turned into the long columns `cols` by
    `score(ids, ia, ib, n_inter, size_a, size_b)`.  Blocks of fewer than
    2 or more than `max_block` docs emit nothing; `observation` gets
    (total_blocks, skipped_blocks), the latter counting the blocks over
    `max_block`."""
    base = df.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(block_col).alias("_blk"),
        F.col(text_col).alias("_text"),
    )
    if observation is not None:
        from pyspark.sql import Window

        w_blk = Window.partitionBy("_blk")
        base = (
            base.withColumn(
                "_rn", F.row_number().over(w_blk.orderBy("_id"))
            )
            .withColumn("_bn", F.count("*").over(w_blk))
            .observe(
                observation,
                F.sum(F.when(F.col("_rn") == 1, 1).otherwise(0)).alias(
                    "total_blocks"
                ),
                F.sum(
                    F.when(
                        (F.col("_rn") == 1) & (F.col("_bn") > max_block), 1
                    ).otherwise(0)
                ).alias("skipped_blocks"),
            )
            .drop("_rn", "_bn")
        )

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        if not 2 <= len(pdf) <= max_block:
            return pd.DataFrame(
                {c: pd.Series([], dtype="int64") for c in cols}
            )
        pdf = pdf.sort_values("_id")
        ids = pdf["_id"].to_numpy()
        return pd.DataFrame(
            score(ids, *_block_intersections(pdf["_text"], n))
        )

    return base.groupBy("_blk").applyInPandas(
        per_block, schema=", ".join(f"{c} long" for c in cols)
    )


def blocked_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    block_col: str = "source",
    threshold_num: int = 3,
    threshold_den: int = 5,
    n: int = 3,
    max_block: int = 512,
    observation=None,
) -> DataFrame:
    """EXACT char-n-gram Jaccard pairs within a blocking key (host/source
    — the standard blocked-dedup pattern: near-dups overwhelmingly live
    on the same site).

    One shuffle on the block key; each block task computes gram sets
    once per doc, then pairwise intersections.  Output is integer-exact
    — (id_a, id_b, n_inter, n_union) with the threshold applied as
    `den*n_inter >= num*n_union` — so a SQL oracle hash-matches with no
    float-rounding hazard.  Per-block work is quadratic by design
    (that's what blocking means); blocks larger than `max_block` docs
    are skipped — at corpus scale a mega-host needs the MinHash-LSH
    path (verified_near_dups), not exact all-pairs.

    Pass a pyspark.sql.Observation as `observation` for the skip's
    audit trail — (total_blocks, skipped_blocks), mirroring
    intra_bucket_pairs: a host crossing max_block between runs changes
    the output, and that change must be visible, never silent.  The
    opt-in path adds two window counts over the SAME block-key
    partitioning the pair stage already shuffles on (no extra
    exchange).  Same AQE empty-result caveat as intra_bucket_pairs.
    """

    def score(ids, ia, ib, n_inter, size_a, size_b):
        n_union = size_a + size_b - n_inter
        keep = threshold_den * n_inter >= threshold_num * n_union
        return {
            "id_a": ids[ia[keep]].astype("int64"),
            "id_b": ids[ib[keep]].astype("int64"),
            "n_inter": n_inter[keep],
            "n_union": n_union[keep],
        }

    return _blocked_pairs(
        df, id_col, text_col, block_col, n, max_block,
        ("id_a", "id_b", "n_inter", "n_union"), score, observation,
    )


def blocked_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    block_col: str = "source",
    threshold_num: int = 9,
    threshold_den: int = 10,
    n: int = 3,
    max_block: int = 512,
) -> DataFrame:
    """EXACT char-n-gram CONTAINMENT pairs within a blocking key — the
    asymmetric companion to blocked_jaccard_pairs.  Containment
    C(A, B) = |S(A) ∩ S(B)| / |S(A)| (A the smaller gram set) catches
    the quote/syndication/excerpt relationships symmetric Jaccard
    misses: a 200-char snippet embedded verbatim in a 5000-char page
    has C ≈ 1 but J ≈ 0.04 (Broder 1997 defines both; dedup systems
    that only threshold resemblance keep every excerpt).

    Same execution shape as the Jaccard operator: one shuffle on the
    block key, then ONE boolean gram-matrix GEMM per block — the
    containment denominators are just the matrix diagonal, so the
    asymmetric measure costs nothing extra.  Output is integer-exact
    (den * n_inter >= num * n_small applied on exact counts) so a SQL
    oracle hash-matches with no float rounding.  Roles are
    deterministic: id_contained is the doc with the SMALLER gram set
    (ties broken by lower id).  Blocks above max_block are skipped —
    at corpus scale mega-hosts go through the MinHash candidate path
    first, with this measure applied only to candidate pairs."""

    def score(ids, ia, ib, n_inter, size_a, size_b):
        # containment of the smaller set; ids sorted so on equal sizes
        # the lower id (ia) is the contained role
        small_is_a = size_a <= size_b
        n_small = _np.where(small_is_a, size_a, size_b)
        keep = threshold_den * n_inter >= threshold_num * n_small
        return {
            "id_contained": _np.where(small_is_a, ids[ia], ids[ib])[
                keep
            ].astype("int64"),
            "id_container": _np.where(small_is_a, ids[ib], ids[ia])[
                keep
            ].astype("int64"),
            "n_inter": n_inter[keep],
            "n_small": n_small[keep],
            "n_big": _np.where(small_is_a, size_b, size_a)[keep],
        }

    return _blocked_pairs(
        df, id_col, text_col, block_col, n, max_block,
        ("id_contained", "id_container", "n_inter", "n_small", "n_big"),
        score,
    )


def ngram_jaccard(a: str, b: str, n: int = 3) -> float:
    """Character n-gram Jaccard similarity (verification of candidates)."""
    ga, gb = _char_grams(a, n), _char_grams(b, n)
    return len(ga & gb) / len(ga | gb)


def _verified_pairs(
    hydrated: DataFrame, ids: dict[str, str], threshold: float
) -> DataFrame:
    """Candidate pairs hydrated with (_text_a, _text_b) -> the pairs whose
    n-gram Jaccard, rounded to 4 dp, is >= threshold, in one Arrow
    kernel.  `ids` maps the two input id columns to their output
    names."""

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    **{out: pdf[c] for c, out in ids.items()},
                    "jaccard": [
                        round(ngram_jaccard(x or "", y or ""), 4)
                        for x, y in zip(pdf["_text_a"], pdf["_text_b"])
                    ],
                }
            )

    schema = "".join(f"{out} long, " for out in ids.values())
    scored = hydrated.mapInPandas(verify, schema=schema + "jaccard double")
    return scored.filter(F.col("jaccard") >= threshold)


def verified_near_dups(
    df: DataFrame, id_col: str, text_col: str = "text", threshold: float = 0.6
) -> DataFrame:
    """End-to-end near-dup detection: minhash signatures (Arrow kernel)
    → LSH band-bucket candidate pairs (grouped shuffle, no cross join)
    → n-gram-Jaccard verification of candidates only (Arrow kernel).

    Output: (id_a, id_b, jaccard) for verified pairs, jaccard rounded
    to 4 dp.  The verify join hydrates candidate texts by id — at scale
    the candidate set is tiny relative to the corpus, so both hydration
    joins broadcast the pair list.
    """
    base = df.select(F.col(id_col).cast("long").alias("_id"), F.col(text_col))
    pairs = lsh_candidate_pairs(with_minhash(base, text_col), "_id")
    a = base.select(F.col("_id").alias("id_a"), F.col(text_col).alias("_text_a"))
    b = base.select(F.col("_id").alias("id_b"), F.col(text_col).alias("_text_b"))
    hydrated = pairs.join(a, "id_a").join(b, "id_b")
    return _verified_pairs(hydrated, {"id_a": "id_a", "id_b": "id_b"}, threshold)


def cross_corpus_near_dups(
    corpus: DataFrame,
    ref: DataFrame,
    corpus_id: str = "doc_id",
    ref_id: str = "ref_id",
    text_col: str = "text",
    threshold: float = 0.6,
) -> DataFrame:
    """Fuzzy decontamination: corpus documents that are NEAR-duplicates
    of a (small) reference/eval set — the near-dup analog of the exact
    n-gram contamination check, and the standard benchmark-hygiene pass
    before training (paraphrased or lightly-edited eval leaks survive
    exact-gram checks; they do not survive MinHash at a Jaccard bar).

    Bipartite, never a self-join: both sides are banded identically
    (`_band_table`), the ref side's band table is BROADCAST (benchmarks
    are thousands of docs, the corpus is the 10^12 side), and
    candidates come from the broadcast equi-join on (band, band_hash) —
    each corpus row meets only the ref rows sharing a band, so there is
    no intra-bucket pair explosion and no hot-bucket policy needed.
    Candidates are then verified with exact char-n-gram Jaccard in one
    Arrow kernel over the hydrated pair texts.

    Output: (corpus_id, ref_id, jaccard) for verified pairs at
    >= threshold, jaccard rounded to 4 dp (same contract as
    verified_near_dups).
    """
    base_c = corpus.select(
        F.col(corpus_id).cast("long").alias("_cid"), F.col(text_col)
    )
    base_r = ref.select(
        F.col(ref_id).cast("long").alias("_rid"), F.col(text_col)
    )
    cand = (
        _band_table(with_minhash(base_c, text_col), "_cid")
        .join(
            F.broadcast(_band_table(with_minhash(base_r, text_col), "_rid")),
            ["band", "band_hash"],
        )
        .select("_cid", "_rid")
        .distinct()
    )
    hydrated = cand.join(
        base_c.select("_cid", F.col(text_col).alias("_text_a")), "_cid"
    ).join(
        F.broadcast(base_r.select("_rid", F.col(text_col).alias("_text_b"))),
        "_rid",
    )
    return _verified_pairs(
        hydrated, {"_cid": corpus_id, "_rid": ref_id}, threshold
    )
