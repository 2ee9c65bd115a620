"""Text analytics, dedup and ANN operator tests."""

import pytest
from pyspark.sql import functions as F

from ocr_pipeline_spark.operators.ann import (
    add_lsh_signatures,
    cosine_topk_bruteforce,
    lsh_ann_topk,
)
from ocr_pipeline_spark.operators.text_ops import (
    lsh_candidate_pairs,
    minhash_kernel,
    minhash_signature,
    ngram_jaccard,
)


# --- minhash (pure) ------------------------------------------------------------
def test_minhash_similarity_ordering():
    base = "word" + " word".join(str(i) for i in range(100))
    near = base + " extra"
    far = " ".join(f"tok{i}" for i in range(100))
    s0, s1, s2 = (minhash_signature(t) for t in (base, near, far))
    sim01 = sum(a == b for a, b in zip(s0, s1)) / len(s0)
    sim02 = sum(a == b for a, b in zip(s0, s2)) / len(s0)
    assert sim01 > 0.5 > sim02
    assert len(s0) == 64 and all(v >= 0 for v in s0)


def test_ngram_jaccard():
    assert ngram_jaccard("abcdef", "abcdef") == 1.0
    assert ngram_jaccard("abcdef", "zzzzzz") == 0.0
    assert 0.0 < ngram_jaccard("abcdefgh", "abcdefxx") < 1.0


def test_lsh_finds_planted_near_duplicates(spark):
    base = " ".join(f"w{i}" for i in range(200))
    rows = [(0, base), (1, base + " tail"), (2, " ".join(f"q{i}" for i in range(200)))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = df.mapInPandas(
        minhash_kernel(), schema="doc_id long, text string, minhash array<bigint>"
    )
    pairs = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(sigs, "doc_id").collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_cross_corpus_near_dups_bipartite(spark):
    """X60: planted eval leaks are flagged against the ref set, clean
    docs are not, and ref-vs-ref pairs never appear (bipartite — the
    corpus is not self-joined)."""
    from ocr_pipeline_spark.operators.text_ops import cross_corpus_near_dups

    eval_text = " ".join(f"e{i}" for i in range(200))
    other_eval = " ".join(f"f{i}" for i in range(200))
    corpus = spark.createDataFrame(
        [
            (10, eval_text + " small edit tail"),      # leaked, perturbed
            (11, " ".join(f"c{i}" for i in range(200))),  # clean
            (12, other_eval),                            # exact leak
        ],
        "doc_id long, text string",
    )
    ref = spark.createDataFrame(
        [(0, eval_text), (1, other_eval)], "ref_id long, text string"
    )
    got = {
        (r.doc_id, r.ref_id): r.jaccard
        for r in cross_corpus_near_dups(
            corpus, ref, threshold=0.5
        ).collect()
    }
    assert (10, 0) in got and got[(10, 0)] < 1.0
    assert got[(12, 1)] == 1.0
    assert all(d != 11 for d, _ in got)
    assert all(d in (10, 11, 12) for d, _ in got)  # never ref-vs-ref


# --- ANN ----------------------------------------------------------------------
@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")


def test_bruteforce_topk_matches_duckdb_style(emb, spark):
    query = [float(x) for x in emb.filter("vec_id = 0").first().embedding]
    top = cosine_topk_bruteforce(
        emb.filter("vec_id != 0"), "embedding", "vec_id", query, k=5
    ).collect()
    assert len(top) == 5
    assert all(-1.0 <= r.cos_sim <= 1.0 for r in top)
    sims = [r.cos_sim for r in top]
    assert sims == sorted(sims, reverse=True)


def test_lsh_ann_recall(emb):
    # the fixture embeddings are near-orthogonal (best cosine ~0.37), the
    # hardest LSH regime: use short signatures + many tables
    query = [float(x) for x in emb.filter("vec_id = 0").first().embedding]
    pool = emb.filter("vec_id != 0")
    exact = [r.vec_id for r in cosine_topk_bruteforce(pool, "embedding", "vec_id", query, 10).collect()]
    approx = [
        r.vec_id
        for r in lsh_ann_topk(
            pool, "embedding", "vec_id", query, k=10, n_planes=4, n_tables=12
        ).collect()
    ]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, f"recall@10={recall} exact={exact} approx={approx}"


def test_lsh_signatures_deterministic(emb):
    a = add_lsh_signatures(emb.limit(20), "embedding", 64).select("vec_id", "sig_0").collect()
    b = add_lsh_signatures(emb.limit(20), "embedding", 64).select("vec_id", "sig_0").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# --- hot-bucket caps -----------------------------------------------------------
def test_intra_bucket_pairs_cap_and_observation(spark):
    """The per-bucket cap bounds the expansion, and the Observation audit
    trail counts every bucket and every over-cap one."""
    from pyspark.sql import Observation

    from ocr_pipeline_spark.operators.text_ops import intra_bucket_pairs

    rows = [
        ([1],),                         # singleton: no pairs
        ([10, 11, 12],),                # 3 ids -> 3 pairs
        ([list(range(100, 170))][0],),  # 70 ids > cap 64 -> m-1 pairs
    ]
    grouped = spark.createDataFrame(rows, "ids array<bigint>")
    obs = Observation("buckets")
    pairs = intra_bucket_pairs(grouped, max_bucket=64, observation=obs).collect()
    # 3 full pairs + 69 star edges, never the 70*69/2 quadratic expansion
    assert len(pairs) == 3 + 69
    assert {(r.id_a, r.id_b) for r in pairs if r.id_a < 100} == {
        (10, 11), (10, 12), (11, 12)
    }
    assert obs.get == {"total_buckets": 3, "overflow_buckets": 1}


def test_intra_bucket_pairs_star_overflow(spark):
    """An over-cap bucket degrades to m-1 star edges (min id -> each
    other member) instead of vanishing — linear output, component stays
    connected."""
    from ocr_pipeline_spark.operators.text_ops import intra_bucket_pairs

    rows = [
        ([10, 11, 12],),                # under cap: full 3 pairs
        ([list(range(100, 170))][0],),  # 70 ids > cap 64 -> star
    ]
    grouped = spark.createDataFrame(rows, "ids array<bigint>")
    pairs = {(r.id_a, r.id_b) for r in
             intra_bucket_pairs(grouped, max_bucket=64).collect()}
    full = {(10, 11), (10, 12), (11, 12)}
    star = {(100, b) for b in range(101, 170)}
    assert pairs == full | star


def test_lsh_mirror_cluster_survives_hot_bucket(spark):
    """ADVICE r2: a crawl cluster of >64 near-identical documents shares
    EVERY band bucket; with drop semantics lsh_candidate_pairs emitted
    zero pairs for exactly the most duplicated content.  Star overflow
    must keep the whole cluster in one connected component."""
    from ocr_pipeline_spark.operators.components import connected_components
    from ocr_pipeline_spark.operators.text_ops import (
        lsh_candidate_pairs,
        minhash_kernel,
    )

    n = 80  # > _MAX_BUCKET=64
    body = (
        "the same templated mirror page served by dozens of hosts with "
        "identical boilerplate navigation and article body " * 8
    )
    rows = [(i, body) for i in range(n)] + [
        (1000, "an unrelated singleton document about parquet row groups " * 8)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = df.mapInPandas(
        minhash_kernel(), schema="doc_id long, text string, minhash array<bigint>"
    )
    pairs = lsh_candidate_pairs(sigs, "doc_id")
    comp = {
        r.id: r.comp
        for r in connected_components(pairs, "id_a", "id_b").collect()
    }
    assert set(comp) == set(range(n))  # singleton not implicated
    assert {comp[i] for i in range(n)} == {0}  # one component, min label


def test_blocked_jaccard_skipped_blocks_observation(spark):
    """A block over max_block emits nothing — and the Observation audit
    trail reports it (r2 VERDICT: no silent caps)."""
    from pyspark.sql import Observation

    from ocr_pipeline_spark.operators.text_ops import blocked_jaccard_pairs

    text = "shared body text for the mega host fixture documents " * 4
    rows = [(i, "mega.example", text) for i in range(10)] + [
        (100, "small.example", text),
        (101, "small.example", text),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    obs = Observation("blocks")
    pairs = blocked_jaccard_pairs(
        df, "doc_id", "text", "source", max_block=8, observation=obs
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(100, 101)}
    assert obs.get == {"total_blocks": 2, "skipped_blocks": 1}


def test_lsh_signature_batch_matches_scalar(emb):
    from ocr_pipeline_spark.operators.ann import _planes, signature_of

    sample = emb.limit(25).collect()
    dim, n_planes, n_tables = 64, 12, 4
    plane_sets = [_planes(dim, n_planes, t) for t in range(n_tables)]
    batch = {
        r.vec_id: tuple(r[f"sig_{t}"] for t in range(n_tables))
        for r in add_lsh_signatures(
            emb.limit(25), "embedding", dim, n_planes, n_tables
        ).collect()
    }
    for r in sample:
        expect = tuple(
            signature_of([float(x) for x in r.embedding], ps) for ps in plane_sets
        )
        assert batch[r.vec_id] == expect


def test_cosine_near_dup_lsh_string_ids(spark):
    import random

    from ocr_pipeline_spark.operators.ann import cosine_near_dup_lsh

    rng = random.Random(23)
    dim = 8
    rows = [(f"doc-{i}", [float(rng.gauss(0, 1)) for _ in range(dim)]) for i in range(30)]
    rows.append(("doc-zz", [float(x + rng.gauss(0, 0.005)) for x in rows[3][1]]))
    df = spark.createDataFrame(rows, "doc_id string, embedding array<float>")
    pairs = {(r.id_a, r.id_b) for r in
             cosine_near_dup_lsh(df, "embedding", "doc_id", dim, 0.95,
                                 n_planes=4, n_tables=8).collect()}
    assert ("doc-3", "doc-zz") in pairs


def test_blocked_jaccard_pairs_semantics(spark):
    from ocr_pipeline_spark.operators.text_ops import blocked_jaccard_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, "hostA", base),
        (2, "hostA", base + " tail"),          # near-dup of 1, same host
        (3, "hostB", base),                     # near-dup text, OTHER host
        (4, "hostA", "completely different words entirely here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    pairs = blocked_jaccard_pairs(df, "doc_id", "text", "source").collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in got          # same-host near-dup found
    assert all(a != 3 and b != 3 for a, b in got)  # blocking: no cross-host
    assert (1, 4) not in got      # dissimilar filtered
    r12 = next(r for r in pairs if (r.id_a, r.id_b) == (1, 2))
    assert 5 * r12.n_inter >= 3 * r12.n_union  # integer threshold held


def test_blocked_containment_pairs_semantics(spark):
    """Containment finds the excerpt-in-page relation Jaccard misses,
    assigns roles deterministically (smaller gram set = contained,
    ties to the lower id), and respects host blocking."""
    from ocr_pipeline_spark.operators.text_ops import (
        blocked_containment_pairs,
        blocked_jaccard_pairs,
    )

    page = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the windowsill and the birds sing in the garden "
        "as morning light spreads across the quiet village square"
    )
    rows = [
        (1, "hostA", page),
        (2, "hostA", page[:40]),               # verbatim excerpt of 1
        (3, "hostB", page[:40]),               # same excerpt, OTHER host
        (4, "hostA", "completely different words entirely here"),
        (5, "hostA", page),                     # exact dup of 1 (tie)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    pairs = blocked_containment_pairs(df, "doc_id", "text", "source").collect()
    got = {(r.id_contained, r.id_container) for r in pairs}
    assert (2, 1) in got          # excerpt contained in its page
    assert all(2 not in (a, b) or b in (1, 5) for a, b in got)
    assert all(3 not in (a, b) for a, b in got)   # blocking holds
    assert all(4 not in (a, b) for a, b in got)   # dissimilar filtered
    assert (1, 5) in got          # equal sizes: lower id is contained
    r21 = next(r for r in pairs if (r.id_contained, r.id_container) == (2, 1))
    assert r21.n_inter == r21.n_small            # full containment
    assert r21.n_small < r21.n_big
    # and Jaccard at the SAME pair is far below any dedup threshold —
    # the reason this operator exists
    j = blocked_jaccard_pairs(df, "doc_id", "text", "source").collect()
    assert (1, 2) not in {(r.id_a, r.id_b) for r in j}


def test_blocked_jaccard_pairs_max_block_skip(spark):
    from ocr_pipeline_spark.operators.text_ops import blocked_jaccard_pairs

    rows = [(i, "mega", "identical text shared by every document here")
            for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    assert blocked_jaccard_pairs(df, "doc_id", "text", "source",
                                 max_block=10).count() == 0
    assert blocked_jaccard_pairs(df, "doc_id", "text", "source",
                                 max_block=100).count() == 30 * 29 // 2


# --- IVF ANN -----------------------------------------------------------------
def test_ivf_ann_recall_vs_bruteforce(spark):
    import random

    from ocr_pipeline_spark.operators.ann import (
        cosine_topk_bruteforce,
        ivf_ann_topk,
    )

    rng = random.Random(7)
    dim = 16
    # 8 well-separated clusters; IVF must recover neighbors of a cluster member
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(8)]
    rows = []
    for i in range(400):
        c = centers[i % 8]
        rows.append((i, [float(x + rng.gauss(0, 0.05)) for x in c]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    query = [float(x) for x in centers[0]]
    exact = [r.vec_id for r in
             cosine_topk_bruteforce(df, "embedding", "vec_id", query, k=10).collect()]
    approx = [r.vec_id for r in
              ivf_ann_topk(df, "embedding", "vec_id", query,
                           k=10, n_cells=8, n_probe=2).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.9


def test_cosine_near_dup_lsh_finds_planted_pair(spark):
    import random

    from ocr_pipeline_spark.operators.ann import (
        cosine_near_dup_lsh,
        cosine_pairs_bruteforce,
    )

    rng = random.Random(11)
    dim = 16
    rows = [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(100)]
    near = [x + rng.gauss(0, 0.01) for x in rows[5][1]]  # planted near-dup of 5
    rows.append((100, near))
    rows = [(i, [float(x) for x in v]) for i, v in rows]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {(r.id_a, r.id_b) for r in
             cosine_pairs_bruteforce(df, "embedding", "vec_id", 0.95).collect()}
    assert (5, 100) in exact
    approx = {(r.id_a, r.id_b) for r in
              cosine_near_dup_lsh(df, "embedding", "vec_id", dim, 0.95,
                                  n_planes=6, n_tables=8).collect()}
    assert (5, 100) in approx
    assert approx <= exact  # verify step means no false positives


def test_cosine_bruteforce_gemm_bit_equals_hof_expression(spark):
    """The block-GEMM kernel must be BIT-identical to the per-pair JVM
    aggregate/zip_with expression it replaced (dimension-order
    accumulation, not numpy pairwise dot) — the DuckDB oracle's
    list_dot_product assumes the sequential sum, so any drift would
    surface as a 4-dp threshold-boundary hash mismatch."""
    import random

    from pyspark.sql import functions as F

    from ocr_pipeline_spark.operators.ann import (
        _pair_cosine_col,
        cosine_pairs_bruteforce,
    )

    rng = random.Random(23)
    dim = 33  # odd dim: exercises non-SIMD-aligned accumulation tails
    rows = [
        (i, [float(rng.gauss(0, 1)) for _ in range(dim)]) for i in range(150)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = sorted(
        (r.id_a, r.id_b, r.cos_sim)
        for r in cosine_pairs_bruteforce(df, "embedding", "vec_id", 0.1).collect()
    )
    a = df.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"))
    b = df.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"))
    want = sorted(
        (r.id_a, r.id_b, r.cos_sim)
        for r in (
            a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                F.round(_pair_cosine_col("_va", "_vb"), 4).alias("cos_sim"),
            )
            .filter(F.col("cos_sim") >= 0.1)
        ).collect()
    )
    assert len(got) > 100  # non-vacuous at a low threshold
    assert got == want  # ids AND 4-dp cosines, bit-for-bit


def test_cosine_bruteforce_degenerate_inputs(spark):
    """Empty frames and NULL vectors must behave like the old HOF plan
    (empty result / null rows filtered), not crash the GEMM kernel."""
    from ocr_pipeline_spark.operators.ann import cosine_pairs_bruteforce

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert cosine_pairs_bruteforce(empty, "embedding", "vec_id", 0.4).count() == 0
    withnull = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rows = cosine_pairs_bruteforce(withnull, "embedding", "vec_id", 0.9).collect()
    assert [(r.id_a, r.id_b) for r in rows] == [(1, 3)]


# --- connected components ----------------------------------------------------
def test_connected_components_chain_and_islands(spark):
    from ocr_pipeline_spark.operators.components import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),          # chain -> comp 1
         (10, 11),                          # pair -> comp 10
         (20, 21), (21, 22), (20, 22)],    # triangle -> comp 20
        "id_a long, id_b long",
    )
    got = {r.id: r.comp for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_connected_components_long_chain_converges(spark):
    from ocr_pipeline_spark.operators.components import connected_components

    n = 40  # diameter >> typical; must still converge via min-propagation
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    got = {r.id: r.comp for r in connected_components(pairs).collect()}
    assert got == {i: 0 for i in range(n + 1)}


def test_ivf_lloyd_refinement_monotone_objective(spark):
    """refine_ivf_centroids runs full-batch distributed Lloyd rounds —
    the spherical k-means objective (sum of each row's best-centroid
    cosine) must be monotone non-decreasing round over round, and
    centroids stay unit-norm."""
    import numpy as np

    from ocr_pipeline_spark.operators.ann import (
        refine_ivf_centroids,
        train_ivf_centroids,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    X = np.array([list(r.embedding) for r in e.collect()], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)

    def objective(cents):
        C = np.array(cents)
        return float(np.max(X @ C.T, axis=1).sum())

    c0 = train_ivf_centroids(e, "embedding", "vec_id", n_cells=8, sample_n=64)
    objs = [objective(c0)]
    c = c0
    for _ in range(3):
        c = refine_ivf_centroids(e, "embedding", c, rounds=1)
        assert np.allclose(np.linalg.norm(np.array(c), axis=1), 1.0, atol=1e-9)
        objs.append(objective(c))
    for a, b in zip(objs, objs[1:]):
        assert b >= a - 1e-9, objs
    assert objs[-1] > objs[0]  # the bounded-sample init left real slack


def test_line_dedup_drops_cross_doc_paragraphs(spark):
    """line_dedup (X47) must not be vacuous on the driver corpus: some
    paragraphs DO repeat across documents at sf0.01 and must be
    dropped from every document containing them, while unique-paragraph
    docs reassemble to exactly their original text."""
    import hashlib

    import __spark_entry__ as entry_mod

    sf = "/root/testdata/sf0.01"
    rows = entry_mod.queries()["line_dedup"](spark, sf).collect()
    dropped = [r for r in rows if r.n_kept < r.n_lines]
    assert dropped, "fixture has no cross-doc duplicate paragraphs"
    assert all(r.n_kept <= r.n_lines for r in rows)

    # independent reassembly check for one untouched and one touched doc
    import pandas as pd

    docs = pd.read_parquet(f"{sf}/documents.parquet").set_index("doc_id")
    by_id = {r.doc_id: r for r in rows}

    def chunks(text):
        w = (text or "").split(" ")
        return [" ".join(w[i : i + 40]) for i in range(0, max(len(w), 1), 40)]

    # paragraph -> #distinct docs
    from collections import defaultdict

    df_count = defaultdict(set)
    for doc_id, t in docs.text.items():
        for c in chunks(t):
            df_count[c].add(doc_id)
    for doc_id, t in list(docs.text.items())[:50]:
        kept = [c for c in chunks(t) if len(df_count[c]) <= 1]
        expect = hashlib.md5("\n".join(kept).encode()).hexdigest()
        assert by_id[doc_id].kept_md5 == expect, doc_id


# ------------------------------------------------------------- embed (X53)

def test_embed_text_deterministic_unit_norm():
    import numpy as np

    from ocr_pipeline_spark.operators.embed import embed_text

    v1 = embed_text("the quick brown fox jumps over the lazy dog")
    v2 = embed_text("the quick brown fox jumps over the lazy dog")
    assert np.array_equal(v1, v2)
    assert v1.shape == (64,)
    assert abs(np.linalg.norm(v1) - 1.0) < 1e-12
    # a different text must land elsewhere
    v3 = embed_text("completely unrelated legal boilerplate text here")
    assert float(v1 @ v3) < 0.9


def test_embed_text_degenerate_inputs():
    import numpy as np

    from ocr_pipeline_spark.operators.embed import embed_text

    for t in ["", "ab", None]:
        v = embed_text(t or "")
        assert np.array_equal(v, np.zeros(64))
    # unicode: multibyte UTF-8 must hash over bytes without error
    v = embed_text("héllo wörld — 中文テキスト 🚀")
    assert abs(np.linalg.norm(v) - 1.0) < 1e-12


def test_embed_similarity_orders_by_overlap():
    """Cosine of hashed n-gram vectors must track n-gram overlap:
    a near-duplicate scores far above an unrelated document."""
    from ocr_pipeline_spark.operators.embed import embed_text

    base = "spark structured streaming watermark state store eviction"
    near = "spark structured streaming watermark state store evictions"
    far = "quarterly revenue grew nine percent on dairy exports"
    vb, vn, vf = embed_text(base), embed_text(near), embed_text(far)
    assert float(vb @ vn) > 0.9
    assert float(vb @ vf) < 0.5
    assert float(vb @ vn) > float(vb @ vf)


def test_embed_kernel_batch_invariant():
    """The Arrow kernel must equal per-row embed_text regardless of
    how rows are split into batches (the batch-invariance contract
    every kernel in this repo carries)."""
    import numpy as np
    import pandas as pd

    from ocr_pipeline_spark.operators.embed import (
        embed_kernel,
        embed_text,
        embedding_md5,
    )

    texts = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "",
        "x",
        "héllo wörld mixed ünïcode",
        "alpha beta gamma delta epsilon zeta eta theta",  # dup of row 0
    ]
    pdf = pd.DataFrame({"doc_id": range(5), "text": texts})
    k = embed_kernel()
    one_batch = pd.concat(list(k(iter([pdf]))), ignore_index=True)
    many = pd.concat(
        list(k(iter([pdf.iloc[:2], pdf.iloc[2:4], pdf.iloc[4:]]))),
        ignore_index=True,
    )
    for got in (one_batch, many):
        for i, t in enumerate(texts):
            want = embed_text(t)
            assert np.array_equal(np.array(got.embedding.iloc[i]), want), i
            assert got.emb_md5.iloc[i] == embedding_md5(want), i
    # identical texts embed identically (row 0 == row 4)
    assert one_batch.emb_md5.iloc[0] == one_batch.emb_md5.iloc[4]
