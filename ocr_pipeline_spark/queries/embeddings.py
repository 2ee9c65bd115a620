"""Embeddings family: text embeddings and their kNN, ANN recall
assertions, SemDeDup, outlier pruning, and BM25 + dense hybrid
search."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ocr_pipeline_spark.operators.ann import (
    cosine_near_dup_lsh, cosine_pairs_bruteforce, cosine_topk_bruteforce,
    ivf_ann_topk, lsh_ann_topk,
)
from ocr_pipeline_spark.operators.embed import (
    EMBED_DDL, embed_kernel, embed_text,
)
from ocr_pipeline_spark.operators.semdedup import (
    semdedup, train_centroids_sample,
)
from ocr_pipeline_spark.queries.common import table, witness, witness_sql


def doc_embeddings(spark, sf_dir):
    """X53: text -> embedding via feature-hashed character 3-grams
    (hashing trick, Weinberger et al. 2009), closing the corpus ->
    embedding -> ANN/SemDeDup loop with a deterministic, model-free
    featurizer (operators/embed.py).  Output is witnessed by the md5
    of the 6-dp-quantized vector, so the oracle proves the exact
    float sequence, not a rounding neighborhood.

    Scale shape: one narrow Arrow kernel over (doc_id, text) — no
    shuffle, no state; at 10^12 docs this is a pure map stage whose
    output partitions feed the bucketed ANN/SemDeDup paths
    unchanged."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        d.mapInPandas(embed_kernel(), schema=EMBED_DDL)
        .select("doc_id", "emb_md5")
        .orderBy("doc_id")
    )


DOC_EMBEDDINGS_SQL = witness_sql("doc_embeddings", "doc_id, emb_md5", "doc_id")


def doc_embed_knn(spark, sf_dir):
    """X53 chained: brute-force cosine top-10 over the TEXT-DERIVED
    embeddings (doc_embeddings kernel feeding the X7 ANN operator in
    one plan — the full corpus->embedding->search loop).  The query
    vector is document 0's embedding, computed driver-side from its
    text by the same pure function (1-row transfer).  Oracle: DuckDB
    re-derives cosine top-k from the witnessed embedding arrays — the
    JVM fold and list_dot_product both reduce left-to-right over
    identical doubles, so the 6-dp rounded values hash-match."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    qv = [float(x) for x in embed_text(
        d.filter(F.col("doc_id") == 0).first().text or ""
    )]
    embs = d.filter(F.col("doc_id") != 0).mapInPandas(
        embed_kernel(), schema=EMBED_DDL
    )
    return cosine_topk_bruteforce(embs, "embedding", "doc_id", qv, k=10)


DOC_EMBED_KNN_SQL = f"""
    WITH w AS (
        SELECT doc_id, CAST(embedding AS DOUBLE[]) AS v
        FROM {witness("doc_embeddings")}
    ), q AS (
        SELECT v AS qv FROM w WHERE doc_id = 0
    )
    SELECT w.doc_id,
           round(
               list_dot_product(w.v, q.qv) /
               (sqrt(list_dot_product(w.v, w.v)) *
                sqrt(list_dot_product(q.qv, q.qv))),
               6
           ) AS cos_sim
    FROM w, q
    WHERE w.doc_id != 0
    ORDER BY cos_sim DESC, w.doc_id
    LIMIT 10
"""


def _ann_recall_row(spark, sf_dir, approx_topk):
    """Shared body of the two ANN recall-assertion queries: exact
    top-10 (one JVM-vectorized scan) vs an approximate arm, returning
    one (k, n_hits) row where n_hits = |exact ∩ approx|.  Both arms
    are TakeOrdered over a single scan; the intersection is a 10-row
    semi join."""
    e = table(spark, sf_dir, "embeddings")
    query = [float(x) for x in e.filter(F.col("vec_id") == 0).first().embedding]
    rest = e.filter(F.col("vec_id") != 0)
    exact = cosine_topk_bruteforce(
        rest, "embedding", "vec_id", query, k=10
    ).select("vec_id")
    approx = approx_topk(rest, query).select("vec_id")
    return exact.join(approx, "vec_id", "left_semi").agg(
        F.lit(10).alias("k"),
        F.count("*").cast("int").alias("n_hits"),
    )


# Recall-assertion oracles for the approximate ANN paths: the Spark side
# computes exact-vs-approx agreement; the SQL side asserts the
# calibrated full-recall constant.  A signature/bucketing/probe
# regression breaks the row hash.
_FULL_RECALL_SQL = "SELECT CAST(10 AS INT) AS k, CAST(10 AS INT) AS n_hits"


def ann_lsh_recall(spark, sf_dir):
    """Recall of the LSH top-k path against exact top-k, with a HARD
    DuckDB oracle: (k, n_hits) with n_hits = |exact ∩ lsh|.  The
    oracle asserts n_hits = k: at n_planes=4, n_tables=24 the
    deterministic seeded planes give recall 1.0 on this fixture
    (calibrated at sf 0.001 / 0.01 / 0.1 for the top-k query point;
    the compare runs at sf0.01), so any regression in signatures,
    bucketing, or re-rank flips the hash."""
    return _ann_recall_row(
        spark, sf_dir,
        lambda rest, query: lsh_ann_topk(
            rest, "embedding", "vec_id", query, k=10, n_planes=4, n_tables=24
        ),
    )


ANN_LSH_RECALL_SQL = _FULL_RECALL_SQL


def ann_ivf_recall(spark, sf_dir):
    """Recall of the IVF top-k path (hard DuckDB oracle for the
    IVF path): exact top-k vs IVF top-k at n_cells=16, n_probe=12 —
    deterministic seeded init + full-batch distributed Lloyd, so the
    probed cells and therefore n_hits are reproducible.  n_probe is
    calibrated for recall 1.0 at the oracle compare point (sf0.01;
    also exact at sf0.001) — the oracle asserts n_hits = k, so a
    regression in cell training, assignment, or probing flips the
    hash.  At production scale the same pipeline runs n_probe <<
    n_cells."""
    return _ann_recall_row(
        spark, sf_dir,
        lambda rest, query: ivf_ann_topk(
            rest, "embedding", "vec_id", query, k=10, n_cells=16, n_probe=12
        ),
    )


ANN_IVF_RECALL_SQL = _FULL_RECALL_SQL


def embedding_near_dup_lsh_recall(spark, sf_dir):
    """Pair-recall assertion for the bucketed near-dup LSH path (hard
    DuckDB oracle): one row (n_pairs_exact, n_pairs_lsh, n_common)
    comparing the exact quadratic baseline with the LSH pair set at
    threshold 0.4, n_planes=4, n_tables=24 (calibrated: the two sets
    are IDENTICAL at the driver's compare sf 0.01, so the oracle
    asserts three equal counts straight from the exact SQL pair
    count; at larger sf the LSH arm reports honest <1.0 recall —
    904/920 at sf0.1 — which is the operator's documented
    probabilistic contract, not a defect).  Catches
    missing pairs (recall), phantom pairs (precision), and
    numpy-vs-JVM rounding drift at the 4-dp threshold boundary in
    one hash."""
    e = table(spark, sf_dir, "embeddings")
    dim = len(e.first().embedding)
    # each pair set feeds two consumers (its count + the semi join):
    # both arms end in Python kernels, which Catalyst cannot
    # ReusedExchange — materialize once (the repo's stated policy for
    # multi-consumer kernel subtrees; each is only O(pairs) rows)
    exact = (
        cosine_pairs_bruteforce(e, "embedding", "vec_id", 0.4)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    lsh = (
        cosine_near_dup_lsh(
            e, "embedding", "vec_id", dim, threshold=0.4,
            n_planes=4, n_tables=24,
        )
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    n_exact = exact.agg(F.count("*").alias("n_pairs_exact"))
    n_lsh = lsh.agg(F.count("*").alias("n_pairs_lsh"))
    n_common = exact.join(lsh, ["id_a", "id_b"], "left_semi").agg(
        F.count("*").alias("n_common")
    )
    return (
        n_exact.crossJoin(F.broadcast(n_lsh))
        .crossJoin(F.broadcast(n_common))
        .select(
            F.col("n_pairs_exact").cast("int").alias("n_pairs_exact"),
            F.col("n_pairs_lsh").cast("int").alias("n_pairs_lsh"),
            F.col("n_common").cast("int").alias("n_common"),
        )
    )


# re-derives the exact pair count; the LSH arm must match it
EMBEDDING_NEAR_DUP_LSH_RECALL_SQL = """
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ), cnt AS (
        SELECT count(*) AS c
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE round(
                  list_dot_product(a.v, b.v) /
                  (sqrt(list_dot_product(a.v, a.v)) *
                   sqrt(list_dot_product(b.v, b.v))),
                  4
              ) >= 0.4
    )
    SELECT CAST(c AS INT) AS n_pairs_exact,
           CAST(c AS INT) AS n_pairs_lsh,
           CAST(c AS INT) AS n_common
    FROM cnt
"""


_BM25_TERMS = ("spark", "window", "join")
_BM25_K1 = 1.5
_BM25_B = 0.75


def _bm25_scored_df(spark, sf_dir):
    """(doc_id, score) BM25 frame: hybrid_search's lexical arm, built
    from the same term list and constants as its SQL twin so the
    Spark and SQL sides cannot drift.  The cross-term sum is a literal
    left-to-right chain over a constant number of terms: NO float
    aggregation whose accumulation order could differ across
    engines."""
    d = table(spark, sf_dir, "documents")
    ws = d.select("doc_id", F.split("text", " ").alias("ws"))
    doc = ws.select(
        "doc_id",
        F.size("ws").cast("double").alias("dl"),
        *[
            F.expr(f"size(filter(ws, x -> x = '{t}'))")
            .cast("double")
            .alias(f"tf_{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    stats = doc.agg(
        F.count("*").cast("double").alias("n_docs"),
        (F.sum("dl") / F.count("*")).alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("double")).alias(f"df_{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    k1, b = _BM25_K1, _BM25_B
    per_term = [
        (
            (F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5))
            / (F.col(f"df_{i}") + F.lit(0.5))
        )
        * (
            (F.col(f"tf_{i}") * F.lit(k1 + 1.0))
            / (
                F.col(f"tf_{i}")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / F.col("avgdl")))
            )
        )
        for i in range(len(_BM25_TERMS))
    ]
    score = per_term[0]
    for term_score in per_term[1:]:
        score = score + term_score
    return doc.crossJoin(F.broadcast(stats)).select(
        "doc_id", score.alias("score")
    )


def hybrid_search(spark, sf_dir):
    """X49: hybrid retrieval via reciprocal-rank fusion (RRF, k=60 —
    the standard lexical+dense ensemble): fuse the BM25 top-20 with
    the exact-cosine top-20 against the query embedding (vec_id 0);
    rrf = 1/(60+r_lex) + 1/(60+r_dense), absent list contributes 0.
    Both ranks come from engine-identical orderings (bit-exact BM25
    floats; 4dp-rounded cosine; doc_id tie-breaks), and
    the fusion is a two-term fixed-order IEEE sum — hash-exact oracle.

    Scale shape: each arm ends in TakeOrdered(k); rank assignment
    (row_number without partitioning) runs over the ALREADY-REDUCED
    k-row frame, never the corpus; the fusion join is k-vs-k.  The
    corpus-side costs are the BM25 arm's one-row broadcast
    stats pass and a brute-force scan (swap the IVF/LSH arm in at
    scale)."""
    scored = _bm25_scored_df(spark, sf_dir).filter(F.col("doc_id") != 0)
    b_top = scored.orderBy(F.desc("score"), "doc_id").limit(20)
    b_rank = b_top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), "doc_id"))
        .alias("r_lex"),
    )
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    dbl = lambda c: F.transform(F.col(c), lambda x: x.cast("double"))  # noqa: E731
    dot = F.aggregate(
        F.zip_with(dbl("embedding"), dbl("qv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(dbl(c), lambda x: x * x),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    c_top = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(dot / (norm("embedding") * norm("qv")), 4).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(20)
    )
    c_rank = c_top.select(
        "vec_id",
        F.row_number()
        .over(Window.orderBy(F.desc("cos_sim"), "vec_id"))
        .alias("r_dense"),
    )
    zero = F.lit(0.0)
    fused = b_rank.join(
        c_rank, b_rank.doc_id == c_rank.vec_id, "full_outer"
    ).select(
        F.coalesce(b_rank.doc_id, c_rank.vec_id).alias("doc_id"),
        "r_lex",
        "r_dense",
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(60.0) + F.col("r_lex").cast("double")),
                zero,
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(60.0) + F.col("r_dense").cast("double")),
                zero,
            )
        ).alias("rrf"),
    )
    return fused.orderBy(F.desc("rrf"), "doc_id")


# The hybrid_search oracle's BM25 tf/df/score fragments, generated from
# the same term list and constants as the Spark expression so the twins
# can't drift.
_TF_COLS = ",\n               ".join(
    f"CAST(len(list_filter(ws, x -> x = '{t}')) AS DOUBLE) AS tf_{i}"
    for i, t in enumerate(_BM25_TERMS)
)
_DF_COLS = ",\n               ".join(
    f"sum(CASE WHEN tf_{i} > 0 THEN CAST(1 AS DOUBLE) "
    f"ELSE CAST(0 AS DOUBLE) END) AS df_{i}"
    for i in range(len(_BM25_TERMS))
)
_TERM_EXPRS = " + ".join(
    f"(((n_docs - df_{i} + CAST(0.5 AS DOUBLE))"
    f" / (df_{i} + CAST(0.5 AS DOUBLE)))"
    f" * ((tf_{i} * CAST({_BM25_K1 + 1.0} AS DOUBLE))"
    f" / (tf_{i} + CAST({_BM25_K1} AS DOUBLE)"
    f" * (CAST({1.0 - _BM25_B} AS DOUBLE)"
    f" + CAST({_BM25_B} AS DOUBLE) * (dl / avgdl)))))"
    for i in range(len(_BM25_TERMS))
)
# BM25 arm from the shared fragments, cosine arm as exact top-20 cosine
# (4dp round), RRF as the same two-term fixed-order DOUBLE sum.
HYBRID_SEARCH_SQL = f"""
    WITH ws AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), doc AS (
        SELECT doc_id,
               CAST(len(ws) AS DOUBLE) AS dl,
               {_TF_COLS}
        FROM ws
    ), stats AS (
        SELECT CAST(count(*) AS DOUBLE) AS n_docs,
               sum(dl) / count(*) AS avgdl,
               {_DF_COLS}
        FROM doc
    ), b_top AS (
        SELECT doc_id, {_TERM_EXPRS} AS score
        FROM doc, stats
        WHERE doc_id <> 0
        ORDER BY score DESC, doc_id
        LIMIT 20
    ), b_rank AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                    AS INTEGER) AS r_lex
        FROM b_top
    ), q AS (
        SELECT CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id = 0
    ), c_top AS (
        SELECT e.vec_id,
               round(
                   list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                    q.qv) /
                   (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(q.qv, q.qv))),
                   4
               ) AS cos_sim
        FROM embeddings e, q
        WHERE e.vec_id != 0
        ORDER BY cos_sim DESC, e.vec_id
        LIMIT 20
    ), c_rank AS (
        SELECT vec_id,
               CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id)
                    AS INTEGER) AS r_dense
        FROM c_top
    )
    SELECT coalesce(b_rank.doc_id, c_rank.vec_id) AS doc_id,
           r_lex, r_dense,
           coalesce(CAST(1 AS DOUBLE)
                    / (CAST(60 AS DOUBLE) + CAST(r_lex AS DOUBLE)),
                    CAST(0 AS DOUBLE))
         + coalesce(CAST(1 AS DOUBLE)
                    / (CAST(60 AS DOUBLE) + CAST(r_dense AS DOUBLE)),
                    CAST(0 AS DOUBLE)) AS rrf
    FROM b_rank FULL OUTER JOIN c_rank
         ON b_rank.doc_id = c_rank.vec_id
    ORDER BY rrf DESC, doc_id
"""


def doc_embed_semdedup(spark, sf_dir):
    """X53×X43: the corpus → embedding → SemDeDup chain in one query —
    documents feed the hashing-trick embed kernel, its vectors train
    the bounded md5-ordered centroid sample and flow through the
    cell-shuffled per-cell drop rule (tau=0.95, calibrated on the
    char-3gram profile similarity of the synthetic corpus: 24/500
    drops at the compare sf, non-vacuous both ways).  Oracle: golden
    witness from the single-process twin that chains the SAME pure
    functions (embed_text → Lloyd → assign → per-cell GEMM), so the
    end-to-end chain is proven bit-exact, not just per stage.

    Scale shape: embed is a narrow Arrow map; its output is
    localCheckpoint-materialized because the chain consumes it twice
    (the O(sample) centroid collect + the dedup pass — the repo's
    policy for multi-consumer Python-kernel subtrees); then ONE cell
    shuffle.  At 10^12 docs the materialization is the embedding
    table you'd persist anyway."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = (
        d.mapInPandas(embed_kernel(), schema=EMBED_DDL)
        .select("doc_id", "embedding")
        .localCheckpoint(eager=True)
    )
    cents = train_centroids_sample(
        emb, "embedding", "doc_id", n_cells=8, sample_n=256, iters=8
    )
    return (
        semdedup(emb, "embedding", "doc_id", cents, tau=0.95)
        .select(
            F.col("vec_id").alias("doc_id"), "cell", "cent_sim", "keep"
        )
        .orderBy("doc_id")
    )


DOC_EMBED_SEMDEDUP_SQL = witness_sql(
    "doc_embed_semdedup", "doc_id, cell, cent_sim, keep", "doc_id"
)


def embedding_outliers(spark, sf_dir):
    """X73: embedding-outlier pruning — per-cluster centroid distance,
    the semantic-hygiene screen (SemDeDup's outlier complement,
    CLIP-score-style pruning) that drops documents far from their
    cluster's center.  Engine-exact by integer geometry: vectors are
    quantized to q = round(x * 10^4) (exact bigints), the per-label
    centroid is the per-dim INTEGER SUM of quantized vectors — cosine
    is scale-invariant, so the un-normalized sum IS the centroid
    direction, with no division whose floor-vs-truncate semantics
    differ between engines on negatives — and cosine is one
    correctly-rounded sqrt + division per row, rounded to 4 dp.
    (At 10^12 rows the sums leave exact-double range: there you divide
    them by the label count once, on the tiny n_labels*64 frame,
    before broadcasting — same direction, small entries.)
    Output: per-vector cosine to its label centroid plus the
    bottom-10-per-label outlier rank (rank-based, threshold-free).

    Scale shape: per-dim centroid sums are a partial-aggregated
    group-by on (label, dim) — the corpus collapses to
    n_labels * 64 rows map-side; centroids rebuild and BROADCAST back;
    per-row cosine is a narrow JVM fold.  The bottom-k window is a
    per-label top-k (one shuffle on the label key);
    at extreme scale the same screen is taken shuffle-free by
    thresholding cos directly."""
    e = table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        "label",
        F.expr(
            "transform(embedding, x ->"
            " CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))"
        ).alias("q"),
    )
    dims = q.select(
        "label", F.posexplode("q").alias("dim", "v")
    )
    sums = dims.groupBy("label", "dim").agg(F.sum("v").alias("s"))
    cent = sums.groupBy("label").agg(
        F.expr(
            "transform(sort_array(collect_list(struct(dim, s))), p -> p.s)"
        ).alias("c")
    )
    dotted = q.join(F.broadcast(cent), "label").select(
        "vec_id",
        "label",
        F.expr(
            "aggregate(zip_with(q, c, (a, b) -> a * b), 0L, (acc, t) -> acc + t)"
        ).alias("dot"),
        F.expr(
            "aggregate(transform(q, a -> a * a), 0L, (acc, t) -> acc + t)"
        ).alias("nq2"),
        F.expr(
            "aggregate(transform(c, b -> b * b), 0L, (acc, t) -> acc + t)"
        ).alias("nc2"),
    )
    scored = dotted.select(
        "vec_id",
        "label",
        F.when(
            (F.col("nq2") > 0) & (F.col("nc2") > 0),
            F.round(
                F.col("dot").cast("double")
                / (F.sqrt(F.col("nq2").cast("double"))
                   * F.sqrt(F.col("nc2").cast("double"))),
                4,
            ),
        ).otherwise(F.lit(0.0)).alias("cos_c"),
    )
    w = Window.partitionBy("label").orderBy(F.asc("cos_c"), F.asc("vec_id"))
    return (
        scored.select(
            "vec_id", "label", "cos_c",
            F.row_number().over(w).alias("rk"),
        )
        .select(
            "vec_id", "label", "cos_c",
            (F.col("rk") <= 10).alias("is_outlier"),
        )
        .orderBy("vec_id")
    )


EMBEDDING_OUTLIERS_SQL = """
    WITH q AS (
        SELECT vec_id, label,
               list_transform(embedding, x ->
                   CAST(round(CAST(x AS DOUBLE) * 10000)
                        AS BIGINT)) AS q
        FROM embeddings
    ), dims AS (
        SELECT label, i - 1 AS dim, q[i] AS v
        FROM q, LATERAL unnest(generate_series(1, len(q))) AS t(i)
    ), sums AS (
        SELECT label, dim, CAST(sum(v) AS BIGINT) AS s
        FROM dims GROUP BY label, dim
    ), cent AS (
        SELECT label, list(s ORDER BY dim) AS c
        FROM sums GROUP BY label
    ), dotted AS (
        SELECT vec_id, q.label,
               list_dot_product(CAST(q.q AS DOUBLE[]),
                                CAST(cent.c AS DOUBLE[])) AS dot,
               list_dot_product(CAST(q.q AS DOUBLE[]),
                                CAST(q.q AS DOUBLE[])) AS nq2,
               list_dot_product(CAST(cent.c AS DOUBLE[]),
                                CAST(cent.c AS DOUBLE[])) AS nc2
        FROM q JOIN cent ON q.label = cent.label
    ), scored AS (
        SELECT vec_id, label,
               CASE WHEN nq2 > 0 AND nc2 > 0
                    THEN round(dot / (sqrt(nq2) * sqrt(nc2)), 4)
                    ELSE 0.0 END AS cos_c
        FROM dotted
    )
    SELECT vec_id, label, cos_c,
           (row_number() OVER (
                PARTITION BY label
                ORDER BY cos_c ASC, vec_id ASC) <= 10) AS is_outlier
    FROM scored
    ORDER BY vec_id
"""
