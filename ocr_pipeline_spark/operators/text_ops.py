"""Text analytics & dedup operators for training-data pipelines.

All column expressions stay JVM-side (pyspark.sql.functions, codegen'd);
Python appears only in Arrow-batched kernels (lang-ID, simhash,
minhash) where per-char/state logic genuinely can't be expressed as
built-ins.  Everything is deterministic.
"""

from __future__ import annotations

import re
import struct
import sys
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# =========================================================================
# Column-level text features (pure JVM expressions)
# =========================================================================

def token_count(col: Column) -> Column:
    """Whitespace token count (0 for empty/blank strings)."""
    trimmed = F.trim(col)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    ).cast("long")


def exact_dup_key(col: Column) -> Column:
    """Exact-dedup hash key (md5 hex — same bytes in Spark and DuckDB)."""
    return F.md5(col.cast("binary"))


# =========================================================================
# Language identification (Arrow kernel — per-char logic)
# =========================================================================
# Tiny deterministic stopword profiles: the graft of a real lang-id
# model for the fixture corpus (en/de/fr/pl).
_LANG_PROFILES: dict[str, frozenset[str]] = {
    "en": frozenset("the and of to in is that for with are was this have from".split()),
    "de": frozenset("der die und das ist von mit für nicht auf ein eine dem den".split()),
    "fr": frozenset("le la les et de des est dans pour que une avec sur pas".split()),
    "pl": frozenset("i w na z do że się nie jest to przez jak dla oraz".split()),
}
_WORD_RE = re.compile(r"[a-ząćęłńóśźżüäößéèêàç]+")


def identify_language(text: str) -> str:
    """Deterministic stopword-vote lang-id; 'und' (undetermined) on ties/empty."""
    words = _WORD_RE.findall((text or "").lower())
    if not words:
        return "und"
    scores = {
        lang: sum(1 for w in words if w in profile)
        for lang, profile in _LANG_PROFILES.items()
    }
    best = max(scores, key=lambda k: (scores[k], k))
    if scores[best] == 0:
        return "und"
    # ties broken lexicographically by the max() key above — deterministic
    return best


def lang_id_kernel(text_col: str = "text", out_col: str = "lang_pred"):
    """mapInPandas kernel factory: adds a predicted-language column."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = [identify_language(t) for t in pdf[text_col]]
            yield pdf

    return kernel


# C0 controls except \t\n\r, plus DEL — the characters a curation
# normalize pass strips (they break tokenizers and leak from broken
# charset transcodes); kept in sync with the DuckDB oracle's RE2 class
# in __spark_entry__.oracle_sql()["text_normalize"]
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
    Python boundary (same policy tier as lang_id_kernel).  NULL text
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
# SimHash (64-bit) — near-dup fingerprint (Arrow kernel)
#
# Hash family: blake2b-64 per token (one C call, PYTHONHASHSEED-free).
# NOTE: this family replaced the round-1 FNV-1a/Mersenne-affine one —
# simhash/minhash columns persisted by pre-vectorization runs are NOT
# comparable with new signatures; recompute sketches, don't mix.
# =========================================================================
def simhash64(text: str) -> int:
    """64-bit SimHash over whitespace tokens (signed for Spark LongType).

    Vectorized: token hashes unpack into a (tokens, 64) bit matrix whose
    column-wise vote decides each signature bit — the per-token
    per-bit Python loop was the dominant cost at corpus scale."""
    from hashlib import blake2b

    tokens = (text or "").split()
    if not tokens:
        return 0
    hs = _np.array(
        [
            int.from_bytes(blake2b(t.encode(), digest_size=8).digest(), "big")
            for t in tokens
        ],
        dtype=_np.uint64,
    )
    bits = (hs[:, None] >> _np.arange(64, dtype=_np.uint64)[None, :]) & _np.uint64(1)
    votes = (2 * bits.astype(_np.int64) - 1).sum(axis=0)
    sig = int(
        ((votes > 0).astype(_np.uint64) << _np.arange(64, dtype=_np.uint64)).sum()
        & _np.uint64(0xFFFFFFFFFFFFFFFF)
    )
    return struct.unpack("<q", struct.pack("<Q", sig))[0]


def simhash_kernel(text_col: str = "text", out_col: str = "simhash"):
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = [simhash64(t) for t in pdf[text_col]]
            yield pdf

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


def minhash_kernel(text_col: str = "text", out_col: str = "minhash"):
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = [minhash_signature(t) for t in pdf[text_col]]
            yield pdf

    return kernel


# Hot-bucket cap: a band/fingerprint/signature shared by more than this
# many documents is boilerplate by definition (ubiquitous shingle, site
# chrome) and carries no near-dup signal — but would pay an O(n^2)
# intra-bucket pair explosion inside a single task at corpus scale.
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
    overflow: str = "drop",
) -> DataFrame:
    """(id_a < id_b) pair expansion over bucket rows, hot buckets capped.

    `grouped` needs an array column `ids` (one row per bucket).  Buckets
    with more than `max_bucket` members never pay the quadratic
    expansion: one ubiquitous shingle/fingerprint at 10^12-doc scale is
    a single bucket with millions of ids — a pair explosion (and a
    collect_list OOM feeder) no shuffle strategy survives.  What happens
    to an over-cap bucket is `overflow`:

    - ``"drop"`` (default): emit nothing.  Right for single-feature
      buckets (one shingle, one winnowing fingerprint): a feature shared
      by >max_bucket docs is boilerplate, not near-dup evidence.
    - ``"star"``: emit star edges — min(ids) paired with each other
      member, m-1 pairs, linear in bucket size.  Right for
      whole-document band-signature buckets (MinHash LSH): a crawl
      cluster of >max_bucket mirrors/templated copies shares EVERY band
      bucket, so dropping would emit zero pairs for exactly the most
      duplicated content; the star keeps the connected component intact
      for downstream connected_components without quadratic blowup.

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
    if overflow not in ("drop", "star"):
        raise ValueError(f"overflow must be 'drop' or 'star', got {overflow!r}")
    sized = grouped.withColumn("_n", F.size("ids"))
    if observation is not None:
        # "overflow_buckets" is the semantically honest name (star mode
        # degrades over-cap buckets, it does not drop them); the legacy
        # "dropped_buckets" alias is kept so existing lineage consumers
        # keep reading a value that is correct in drop mode.
        sized = sized.observe(
            observation,
            F.count(F.lit(1)).alias("total_buckets"),
            F.count(F.when(F.col("_n") > max_bucket, 1)).alias("overflow_buckets"),
            F.count(F.when(F.col("_n") > max_bucket, 1)).alias("dropped_buckets"),
        )
    full_expr = (
        "filter(flatten(transform(ids, a -> transform(ids, b -> "
        "struct(a, b)))), p -> p.a < p.b)"
    )
    if overflow == "drop":
        return sized.filter(
            (F.col("_n") >= 2) & (F.col("_n") <= max_bucket)
        ).select(
            F.explode(F.expr(full_expr)).alias("p")
        ).select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
    # star mode: ONE conditional pair-array per bucket row — a union of
    # two filtered branches would duplicate the grouped subtree in the
    # plan (the upstream kernel/aggregate runs once per consumer unless
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
    intra_bucket_pairs overflow="star": band signatures are
    whole-document features, so a >max_bucket bucket is a mirror/
    template cluster whose component must stay connected, not
    boilerplate to drop).  Output: (id_a, id_b) with id_a < id_b,
    distinct.
    """
    banded = _band_table(df, id_col, sig_col)
    grouped = banded.groupBy("band", "band_hash").agg(
        F.collect_list(id_col).alias("ids")
    )
    return intra_bucket_pairs(
        grouped, max_bucket, observation, overflow="star"
    ).distinct()


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    sim_col: str = "simhash",
    max_hamming: int = 3,
    max_bucket: int = _MAX_BUCKET,
    observation=None,
    max_levels: int = 20,
) -> DataFrame:
    """SimHash near-dup pairs at scale: signature-deduplicated
    recursive pigeonhole banding + exact popcount verify, all JVM after
    the signature kernel.

    Output contract (exact at ANY corpus size, linear in true cluster
    structure):

    - one ``(rep_a, rep_b, hamming)`` row for EVERY pair of *distinct*
      signatures within ``max_hamming`` bits, where rep = min doc id of
      that signature's duplicate group — recall over distinct
      signatures is EXACT, not probabilistic;
    - one ``(rep, member, 0)`` star edge for every non-representative
      member of an identical-signature group (a 10^6-doc mirror
      cluster is a hamming-0 clique whose exhaustive Θ(m²) pair set no
      exact engine can emit at scale; the star is its linear spanning
      encoding, and every true pair stays connected through verified
      intermediaries — component-level dedup is exact).

    Mechanics: identical signatures collapse first (one shuffle by
    signature, min-id over a window — never a collect_list).  Distinct
    signatures are banded into ``max_hamming + 1`` chunks; a near pair
    must agree exactly on some chunk (pigeonhole).  A bucket larger
    than ``max_bucket`` never pays the quadratic expansion: its
    members re-band on their *remaining* bits (the differing bits of a
    near pair all lie outside the agreed chunks, so pigeonhole applies
    again inside the bucket), recursively until every bucket fits —
    guaranteed, because a bucket with ``rem_n`` undecided bits holds at
    most ``2^rem_n`` distinct members, so recursion bottoms out by
    ``rem_n <= log2(max_bucket)`` (~4 levels for 64-bit/t=3/cap 64;
    0 extra levels for non-adversarial corpora).

    Candidates are always banded group-by shuffles — never a cross
    join; the signature rides the bucket rows as a struct so the final
    verification is one inline ``bit_count(a ^ b)`` per candidate (no
    hydration join).  The recursion runs a driver loop with a lazy
    localCheckpoint per level so the signature kernel executes once
    regardless of depth.  Output: (id_a, id_b, hamming), id_a < id_b,
    distinct.
    """
    n_bands = max_hamming + 1
    # Phase 1 — collapse identical signatures.  A mirror cluster of m
    # identical docs is a hamming-0 clique whose exhaustive pair set is
    # Θ(m²); no exact engine can emit that at corpus scale, and feeding
    # duplicates into the banding recursion is worse: an identical-sig
    # group never splits, so every level would duplicate its members
    # into each of ~n_bands over-cap sub-buckets — exponential row
    # growth.  Instead: one shuffle by signature, min-id representative
    # per group, linear star edges (rep, member, hamming 0) via a
    # window (never a collect_list — a 10^6-member group must not
    # become one array).  The recursion then runs over DISTINCT
    # signatures only, where buckets provably split: two distinct
    # members of a bucket agree on all consumed bits, so they differ
    # within the remaining bits, and a bucket with rem_n remaining bits
    # holds at most 2^rem_n distinct members — once rem_n <=
    # log2(max_bucket), no bucket can be over cap.
    from pyspark.sql import Window as _W

    # lazy checkpoint: the star-edge branch AND the banding recursion
    # both read this frame — without the cut the signature kernel would
    # execute once per consumer subtree
    with_rep = (
        df.select(
            F.col(id_col).alias("i"), F.col(sim_col).cast("long").alias("s")
        )
        .withColumn("_rep", F.min("i").over(_W.partitionBy("s")))
        .localCheckpoint(eager=False)
    )
    star_edges = with_rep.filter(F.col("i") != F.col("_rep")).select(
        F.col("_rep").alias("id_a"),
        F.col("i").alias("id_b"),
        F.lit(0).alias("hamming"),
    )
    member = F.struct(
        F.col("i"),
        F.col("s"),
        F.col("s").alias("rem"),
        F.lit(64).alias("rem_n"),
    )
    work = (
        with_rep.filter(F.col("i") == F.col("_rep"))
        .select(F.lit(0).cast("long").alias("pkey"), member.alias("m"))
    )

    # Per-member banding of the remaining bits: w = chunk width,
    # j = chunk index, cw = this chunk's width (the top chunk may be
    # narrower), chunk = the agreed-bit value, and the child member
    # carries rem with the agreed chunk spliced out.  All shift amounts
    # are < 64 by construction (j*w < rem_n <= 64 and, in the non-top
    # branch, j*w + cw < rem_n), so Java's mod-64 shift wraparound is
    # never hit.
    _w = f"greatest(m.rem_n div {n_bands}, 1)"
    _cw = f"least({_w}, m.rem_n - j * {_w})"
    _off = f"(j * {_w})"
    _chunk = f"shiftrightunsigned(m.rem, {_off}) & (shiftleft(1L, {_cw}) - 1)"
    _child = f"""named_struct(
        'i', m.i, 's', m.s,
        'rem', (m.rem & (shiftleft(1L, {_off}) - 1)) |
               (CASE WHEN {_off} + {_cw} >= m.rem_n THEN 0L
                     ELSE shiftleft(
                         shiftrightunsigned(m.rem, {_off} + {_cw}), {_off})
                END),
        'rem_n', m.rem_n - {_cw})"""
    _full_pairs = (
        "filter(flatten(transform(ids, a -> transform(ids, b -> "
        "struct(a, b)))), p -> p.a.i < p.b.i)"
    )

    pair_frames: list[DataFrame] = []
    for level in range(max_levels):
        banded = work.select(
            "pkey",
            F.expr(
                f"explode(sequence(0, cast(ceil(m.rem_n / {_w}) as int) - 1))"
            ).alias("j"),
            F.col("m"),
        ).select(
            "pkey",
            "j",
            F.expr(_chunk).alias("chunk"),
            F.expr(_child).alias("c"),
        )
        grouped = banded.groupBy("pkey", "j", "chunk").agg(
            F.collect_list("c").alias("ids")
        )
        # rem_n is uniform within a bucket (same parent, same agreed
        # chunk width), so the first member's value is the bucket's
        sized = grouped.withColumn("_n", F.size("ids")).withColumn(
            "_rem_n", F.element_at("ids", 1).getField("rem_n")
        )
        if observation is not None and level == 0:
            sized = sized.observe(
                observation,
                F.count(F.lit(1)).alias("total_buckets"),
                F.count(F.when(F.col("_n") > max_bucket, 1)).alias(
                    "overflow_buckets"
                ),
            )
        # lazy checkpoint: singleton buckets are dropped first (they
        # emit nothing and cannot recurse), then one materialization
        # serves the under-cap pair expansion, the over-cap recursion,
        # and the emptiness probe — the signature kernel runs once.
        multi = sized.filter(F.col("_n") >= 2).localCheckpoint(eager=False)
        # recurse only while pigeonhole banding is possible (rem_n >=
        # n_bands).  Below that a bucket holds < 2^n_bands distinct
        # members — constant-bounded, expand directly.  (With
        # max_bucket >= 2^n_bands this branch is provably unreachable:
        # distinct-sig buckets at rem_n bits hold <= 2^rem_n members.)
        emit = (F.col("_n") <= max_bucket) | (F.col("_rem_n") < n_bands)
        pair_frames.append(
            multi.filter(emit)
            .select(F.explode(F.expr(_full_pairs)).alias("p"))
        )
        over = multi.filter(~emit)
        if over.isEmpty():
            break
        work = over.select(
            F.xxhash64("pkey", "j", "chunk").alias("pkey"),
            F.explode("ids").alias("m"),
        )

    candidates = pair_frames[0]
    for extra in pair_frames[1:]:
        candidates = candidates.unionByName(extra)
    rep_pairs = (
        candidates.select(
            F.col("p.a.i").alias("id_a"),
            F.col("p.b.i").alias("id_b"),
            F.bit_count(
                F.col("p.a.s").bitwiseXOR(F.col("p.b.s"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return rep_pairs.unionByName(star_edges)



# =========================================================================
# Document fingerprinting — Karp-Rabin rolling hash + winnowing
# (Schleimer/Wilkerson/Aiken, SIGMOD'03; the reference has no analog —
# this is the training-data-pipeline extension of the dedup family)
# =========================================================================
_FP_K = 8     # chars per k-gram
_FP_W = 16    # winnowing window (guarantee: any match >= w+k-1 chars shares a fingerprint)
_FP_BASE = 257
_FP_MOD = (1 << 61) - 1


def rolling_kgram_hashes(text: str, k: int = _FP_K):
    """Polynomial k-gram hashes (base _FP_BASE, mod 2^64 via uint64
    wraparound) of every char k-gram, vectorized: k shifted-array
    multiply-adds instead of a per-char Python rolling loop.  Returns a
    numpy uint64 array."""
    n = len(text)
    if n == 0:
        return _np.empty(0, dtype=_np.uint64)
    codes = _np.frombuffer(text.encode("utf-32-le"), dtype=_np.uint32).astype(
        _np.uint64
    )
    if n < k:
        h = _np.uint64(0)
        base = _np.uint64(_FP_BASE)
        for c in codes:
            h = h * base + c
        return _np.array([h], dtype=_np.uint64)
    m = n - k + 1
    out = _np.zeros(m, dtype=_np.uint64)
    for j in range(k):
        out = out * _np.uint64(_FP_BASE) + codes[j : j + m]
    return out


def winnow_fingerprints(text: str, k: int = _FP_K, w: int = _FP_W) -> list[int]:
    """Winnowed fingerprint set: min hash of each w-window of k-gram
    hashes, deduped, sorted (the picked VALUE per window is tie-position
    independent, so the set needs no tie-break bookkeeping).  Whitespace
    is normalized first so formatting doesn't perturb fingerprints."""
    norm = " ".join((text or "").lower().split())
    hashes = rolling_kgram_hashes(norm, k)
    if not len(hashes):
        return []
    if len(hashes) <= w:
        return [int(hashes.min() >> _np.uint64(1))]
    wins = _np.lib.stride_tricks.sliding_window_view(hashes, w).min(axis=1)
    # >>1 keeps fingerprints in non-negative LongType range (monotone)
    return sorted({int(x) for x in (wins >> _np.uint64(1))})


def fingerprint_kernel(text_col: str = "text"):
    """mapInPandas kernel: per-doc winnowed fingerprint summary
    (n_fps, fp_min) + the full fingerprint array for overlap joins."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fps = [winnow_fingerprints(t) for t in pdf[text_col]]
            out = pdf.drop(columns=[text_col]).copy()
            out["fingerprints"] = fps
            out["n_fps"] = [len(f) for f in fps]
            out["fp_min"] = [f[0] if f else 0 for f in fps]
            yield out

    return kernel


def fingerprint_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    min_shared: int = 3,
    max_bucket: int = _MAX_BUCKET,
    observation=None,
) -> DataFrame:
    """Docs sharing >= min_shared winnowed fingerprints — the scale path
    is explode→group-by-fingerprint→intra-bucket pairs→count, i.e. the
    same banded-shuffle shape as MinHash-LSH (never a cross join).
    Fingerprints shared by > max_bucket docs are boilerplate and dropped
    before pair expansion (see intra_bucket_pairs)."""
    base = df.select(F.col(id_col).cast("long").alias("_id"), text_col)
    fps = base.mapInPandas(
        fingerprint_kernel(text_col),
        schema="_id long, fingerprints array<bigint>, n_fps long, fp_min bigint",
    )
    exploded = fps.select("_id", F.explode("fingerprints").alias("fp"))
    grouped = exploded.groupBy("fp").agg(F.collect_list("_id").alias("ids"))
    pairs = intra_bucket_pairs(grouped, max_bucket, observation)
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
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
        m = len(pdf)
        if m < 2 or m > max_block:
            return pd.DataFrame(
                {"id_a": pd.Series([], dtype="int64"),
                 "id_b": pd.Series([], dtype="int64"),
                 "n_inter": pd.Series([], dtype="int64"),
                 "n_union": pd.Series([], dtype="int64")}
            )
        pdf = pdf.sort_values("_id")
        ids = pdf["_id"].to_numpy()
        grams = [
            {t[i : i + n] for i in range(max(len(t) - n + 1, 0))} or {t}
            for t in ((x or "") for x in pdf["_text"])
        ]
        # ONE boolean gram-matrix product per block instead of m^2/2
        # Python set intersections: M (docs x vocab) 0/1 float32, then
        # inter = M @ M.T — counts are exact integers in float32 up to
        # 2^24 (a doc has far fewer grams than that).  BLAS turns the
        # block's whole pair grid into a single GEMM.
        vocab: dict[str, int] = {}
        for gs in grams:
            for g in gs:
                if g not in vocab:
                    vocab[g] = len(vocab)
        M = _np.zeros((m, len(vocab)), dtype=_np.float32)
        for i, gs in enumerate(grams):
            M[i, [vocab[g] for g in gs]] = 1.0
        inter = _np.rint(M @ M.T).astype(_np.int64)
        sizes = inter.diagonal()
        ia, ib = _np.triu_indices(m, k=1)
        n_inter = inter[ia, ib]
        n_union = sizes[ia] + sizes[ib] - n_inter
        keep = threshold_den * n_inter >= threshold_num * n_union
        return pd.DataFrame(
            {
                "id_a": ids[ia[keep]].astype("int64"),
                "id_b": ids[ib[keep]].astype("int64"),
                "n_inter": n_inter[keep],
                "n_union": n_union[keep],
            }
        )

    return base.groupBy("_blk").applyInPandas(
        per_block, schema="id_a long, id_b long, n_inter long, n_union long"
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
    base = df.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(block_col).alias("_blk"),
        F.col(text_col).alias("_text"),
    )

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"id_contained": pd.Series([], dtype="int64"),
             "id_container": pd.Series([], dtype="int64"),
             "n_inter": pd.Series([], dtype="int64"),
             "n_small": pd.Series([], dtype="int64"),
             "n_big": pd.Series([], dtype="int64")}
        )
        m = len(pdf)
        if m < 2 or m > max_block:
            return empty
        pdf = pdf.sort_values("_id")
        ids = pdf["_id"].to_numpy()
        grams = [
            {t[i : i + n] for i in range(max(len(t) - n + 1, 0))} or {t}
            for t in ((x or "") for x in pdf["_text"])
        ]
        vocab: dict[str, int] = {}
        for gs in grams:
            for g in gs:
                if g not in vocab:
                    vocab[g] = len(vocab)
        M = _np.zeros((m, len(vocab)), dtype=_np.float32)
        for i, gs in enumerate(grams):
            M[i, [vocab[g] for g in gs]] = 1.0
        inter = _np.rint(M @ M.T).astype(_np.int64)
        sizes = inter.diagonal()
        ia, ib = _np.triu_indices(m, k=1)
        n_inter = inter[ia, ib]
        # containment of the smaller set; ids sorted so on equal sizes
        # the lower id (ia) is the contained role
        small_is_a = sizes[ia] <= sizes[ib]
        n_small = _np.where(small_is_a, sizes[ia], sizes[ib])
        n_big = _np.where(small_is_a, sizes[ib], sizes[ia])
        keep = threshold_den * n_inter >= threshold_num * n_small
        return pd.DataFrame(
            {
                "id_contained": _np.where(small_is_a, ids[ia], ids[ib])[
                    keep
                ].astype("int64"),
                "id_container": _np.where(small_is_a, ids[ib], ids[ia])[
                    keep
                ].astype("int64"),
                "n_inter": n_inter[keep],
                "n_small": n_small[keep],
                "n_big": n_big[keep],
            }
        )

    return base.groupBy("_blk").applyInPandas(
        per_block,
        schema=(
            "id_contained long, id_container long, n_inter long,"
            " n_small long, n_big long"
        ),
    )


def ngram_jaccard(a: str, b: str, n: int = 3) -> float:
    """Character n-gram Jaccard similarity (verification of candidates)."""
    ga = {a[i : i + n] for i in range(max(len(a) - n + 1, 0))} or {a}
    gb = {b[i : i + n] for i in range(max(len(b) - n + 1, 0))} or {b}
    return len(ga & gb) / len(ga | gb)


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
    sigs = base.mapInPandas(
        minhash_kernel(text_col),
        schema=f"_id long, {text_col} string, minhash array<bigint>",
    )
    pairs = lsh_candidate_pairs(sigs, "_id")
    a = base.select(F.col("_id").alias("id_a"), F.col(text_col).alias("_text_a"))
    b = base.select(F.col("_id").alias("id_b"), F.col(text_col).alias("_text_b"))
    hydrated = pairs.join(a, "id_a").join(b, "id_b")

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id_a": pdf["id_a"],
                    "id_b": pdf["id_b"],
                    "jaccard": [
                        round(ngram_jaccard(x or "", y or ""), 4)
                        for x, y in zip(pdf["_text_a"], pdf["_text_b"])
                    ],
                }
            )

    scored = hydrated.mapInPandas(
        verify, schema="id_a long, id_b long, jaccard double"
    )
    return scored.filter(F.col("jaccard") >= threshold)


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
    sig_c = base_c.mapInPandas(
        minhash_kernel(text_col),
        schema=f"_cid long, {text_col} string, minhash array<bigint>",
    )
    sig_r = base_r.mapInPandas(
        minhash_kernel(text_col),
        schema=f"_rid long, {text_col} string, minhash array<bigint>",
    )
    cand = (
        _band_table(sig_c, "_cid")
        .join(F.broadcast(_band_table(sig_r, "_rid")), ["band", "band_hash"])
        .select("_cid", "_rid")
        .distinct()
    )
    hydrated = cand.join(
        base_c.select("_cid", F.col(text_col).alias("_text_a")), "_cid"
    ).join(
        F.broadcast(base_r.select("_rid", F.col(text_col).alias("_text_b"))),
        "_rid",
    )

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    corpus_id: pdf["_cid"],
                    ref_id: pdf["_rid"],
                    "jaccard": [
                        round(ngram_jaccard(x or "", y or ""), 4)
                        for x, y in zip(pdf["_text_a"], pdf["_text_b"])
                    ],
                }
            )

    scored = hydrated.mapInPandas(
        verify, schema=f"{corpus_id} long, {ref_id} long, jaccard double"
    )
    return scored.filter(F.col("jaccard") >= threshold)
