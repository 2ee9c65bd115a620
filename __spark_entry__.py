"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: the full extraction pipeline over the
                 sf0.001 `documents` corpus wrapped as Common-Crawl
                 style pages (deterministic chrome), returning the
                 extracted table.
queries()      — the 50 queries the correctness harness evaluates,
                 each as (spark, sf_dir) -> DataFrame.
oracle_sql()   — DuckDB-equivalent SQL for every query (same column
                 names/types).  The byte-deterministic extraction
                 family is oracled against single-process
                 golden-witness parquets (scripts/gen_witness.py).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SF0001 = "/root/testdata/sf0.001"

# Golden-witness fixtures (scripts/gen_witness.py): single-process
# kernel-loop outputs for the byte-deterministic extraction family,
# giving them full DuckDB hash oracles (SELECT over the witness) even
# though the computation itself is not SQL-expressible.  Pinned to the
# driver's correctness scale (sf0.01).
_WITNESS_DIR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "tests", "fixtures", "witness"
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _synth_urls(d: DataFrame) -> DataFrame:
    """Deterministic synthetic url per document — the ONE url-shape
    definition shared by every crawl-side query (robots_filter,
    frontier_schedule; their SQL twins spell the same strings).  Keeps
    doc_id/text/lang and adds url, host, path, hn (the numeric host id
    the per-host rule synthesizers key on)."""
    return d.select(
        "doc_id",
        "text",
        "lang",
        F.concat(F.lit("https://"), "source",
                 F.lit(".example.com/docs/"), "doc_id").alias("url"),
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        F.concat(F.lit("/docs/"), "doc_id").alias("path"),
        F.regexp_extract("source", r"src(\d+)", 1).cast("int").alias("hn"),
    )


# --------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: documents -> pages -> salted repartition -> Arrow
    extraction kernel -> extracted(url, markdown, spans, ...)."""
    from ocr_pipeline_spark.fixtures.gen_pages import documents_as_pages_df
    from ocr_pipeline_spark.plans.job import run_extraction

    docs = _t(spark, SF0001, "documents")
    pages = documents_as_pages_df(docs)
    out = run_extraction(spark, pages, describe=True)
    return out.select(
        "url", "warc_ts", "lang", "page_num",
        F.col("classification.type").alias("page_type"),
        F.col("classification.confidence").alias("confidence"),
        "method", "markdown", "spans", "n_chars", "n_figures",
    )


def _q_assemble_documents(spark, sf_dir):
    """A3/A4: multi-page extraction -> per-document ordered assembly
    (boundary-fragment carry, headers, separators) via
    groupBy(doc_key).applyInPandas.  Input: the deterministic synthetic
    pages corpus (multi-page docs use /page-N urls); sf scales n."""
    from ocr_pipeline_spark.fixtures.gen_pages import generate_pages_df
    from ocr_pipeline_spark.operators.assembly_op import assemble_documents
    from ocr_pipeline_spark.plans.job import run_extraction

    n = max(500, int(float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) * 200_000))
    pages = generate_pages_df(spark, min(n, 4000), seed=42)
    # no host co-location: assembly's own doc_key shuffle is the grouping
    extracted = run_extraction(spark, pages, describe=True, co_locate_hosts=False)
    return (
        assemble_documents(extracted)
        .select("doc_key", "n_pages", "n_figures", "n_chars")
        .orderBy("doc_key")
    )


def _q_robots_filter(spark, sf_dir):
    """X51: robots-style URL policy filter with longest-prefix-match
    semantics (Google REP: the longest matching rule prefix wins; on a
    length tie, allow beats disallow) — the standard crawl/corpus URL
    hygiene pass.  Per-host rules are synthesized deterministically
    from the host id so the DuckDB twin can rebuild the identical rule
    table: every host allows "/", hosts with n%3==0 disallow "/docs/",
    and hosts with n%6==0 re-allow the longer "/docs/1" prefix — so all
    three precedence behaviors (default, block, longest-match
    override) are exercised.

    Scale shape: the rule table is O(hosts x rules) and BROADCAST; the
    corpus joins it once on host, prefix-match is a JVM startswith, and
    the winning rule is a row_number window partitioned by url over the
    few matched rules per url — no shuffle of the corpus beyond the
    host-keyed broadcast probe, exactly how a 10^12-url frontier is
    policy-filtered."""
    urls = _synth_urls(_t(spark, sf_dir, "documents")).select(
        "url", "host", "path"
    )
    hosts = urls.select("host").distinct().withColumn(
        "hn", F.regexp_extract("host", r"src(\d+)", 1).cast("int")
    )
    rules = (
        hosts.select(
            "host",
            F.explode(
                F.array(
                    F.struct(
                        F.lit("/").alias("prefix"), F.lit(True).alias("allow")
                    ),
                    F.when(
                        F.col("hn") % 3 == 0,
                        F.struct(
                            F.lit("/docs/").alias("prefix"),
                            F.lit(False).alias("allow"),
                        ),
                    ),
                    F.when(
                        F.col("hn") % 6 == 0,
                        F.struct(
                            F.lit("/docs/1").alias("prefix"),
                            F.lit(True).alias("allow"),
                        ),
                    ),
                )
            ).alias("r"),
        )
        .filter(F.col("r").isNotNull())
        .select("host", "r.prefix", "r.allow")
    )
    matched = urls.join(F.broadcast(rules), "host").filter(
        F.col("path").startswith(F.col("prefix"))
    )
    w = Window.partitionBy("url").orderBy(
        F.length("prefix").desc(), F.col("allow").desc()
    )
    return (
        matched.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "url",
            "host",
            F.col("prefix").alias("rule_prefix"),
            F.col("allow").alias("allowed"),
        )
        .orderBy("url")
    )


def _q_anchor_texts(spark, sf_dir):
    """X50: anchor-text aggregation per target url — the classic
    web-corpus enrichment (anchor text is an external description of
    the TARGET page, used for retrieval signals and quality/relevance
    labels).  DOM-semantic anchors (comments/script invisible) with
    whitespace-normalized text, canonicalized targets; per target:
    total references, distinct referring hosts, and the dominant
    anchor text under the total order (count DESC, text ASC).

    Scale shape: one narrow mapInPandas over the (url, html) scan ->
    partial-aggregated (dst_url, anchor) group-by (the shuffled payload
    is two short strings + a count, never html) -> the top-text window
    runs over the ALREADY-AGGREGATED frame partitioned by dst_url ->
    one more partial-agg for per-target totals.  Oracle: golden witness
    from the single-process kernel loop (scripts/gen_witness.py)."""
    from ocr_pipeline_spark.fixtures.gen_pages import generate_pages_df
    from ocr_pipeline_spark.operators.links_op import anchor_texts_df

    n = min(
        max(500, int(float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) * 200_000)),
        4000,
    )
    pages = generate_pages_df(spark, n, seed=42, cross_links=True)
    # eager localCheckpoint: BOTH aggregation branches consume the
    # anchor frame, and without the lineage cut Spark duplicates the
    # whole generate+parse kernel subtree into each branch —
    # checkpoint once, parse once
    a = anchor_texts_df(pages).localCheckpoint()
    pa = a.groupBy("dst_url", "anchor").agg(F.count("*").alias("n"))
    w = Window.partitionBy("dst_url").orderBy(F.desc("n"), "anchor")
    top = (
        pa.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "dst_url",
            F.col("anchor").alias("top_anchor"),
            F.col("n").alias("top_anchor_n"),
        )
    )
    tot = a.groupBy("dst_url").agg(
        F.count("*").alias("n_refs"),
        F.countDistinct("src_host").alias("n_src_hosts"),
    )
    return tot.join(top, "dst_url").orderBy("dst_url")


def _q_extract_documents(spark, sf_dir):
    from ocr_pipeline_spark.fixtures.gen_pages import documents_as_pages_df
    from ocr_pipeline_spark.plans.job import run_extraction

    pages = documents_as_pages_df(_t(spark, sf_dir, "documents"))
    # per-row output, no host-grouped consumer -> map-only plan
    out = run_extraction(spark, pages, describe=True, co_locate_hosts=False)
    return out.select(
        "url",
        F.col("classification.type").alias("page_type"),
        "method", "markdown", "n_chars",
    ).orderBy("url")


def _q_page_metadata(spark, sf_dir):
    """X57: head-metadata scan projection — <title>, meta description,
    canonical link, og:title and schema.org JSON-LD @type per url
    (kernel/metadata.py), the crawl-side analog of the reference's
    page-header metadata (ref src/stage2_ocr.py:519-544).  The corpus
    is the driver documents table wrapped with a deterministic
    metadata-bearing <head> (fixtures/gen_pages.wrap_document_with_head)
    that exercises entity decode, absent fields, malformed JSON-LD and
    first-title-wins.

    Scale shape: a narrow map over the (url, html) scan emitting five
    short strings per page — no shuffle at all; at 10^12 rows this is
    the same map-only plan as extraction, and the canonical column it
    emits is the dedup key the CDX index prefers.  Oracle: golden
    witness from the single-process kernel twin
    (scripts/gen_witness.py)."""
    from ocr_pipeline_spark.fixtures.gen_pages import documents_with_head_df
    from ocr_pipeline_spark.operators.metadata_op import page_metadata_df

    pages = documents_with_head_df(_t(spark, sf_dir, "documents"))
    return page_metadata_df(pages).orderBy("url")


def _q_extract_fidelity(spark, sf_dir):
    """X58: extraction fidelity scoring — token-multiset precision /
    recall / F1 of each page's extracted markdown against the table's
    source `text` column (the CleanEval-style main-content-extraction
    evaluation; here the wrap is synthetic so recall is the kernel's
    boilerplate-vs-content separation measured end-to-end).

    Scale shape: both sides tokenize into (url, tok, cnt) via
    partial-agg group-bys (map-side combine collapses repeated tokens
    before any exchange), the multiset intersection is ONE equi-join on
    (url, tok), then a per-url agg — never a per-pair comparison.  The
    P/R/F1 ratios are exact IEEE divisions of integer counts (no
    rounding), so they hash identically to the oracle.  Oracle: DuckDB
    computes the same arithmetic from the extract_documents witness
    markdown joined to documents.text."""
    from ocr_pipeline_spark.fixtures.gen_pages import documents_as_pages_df
    from ocr_pipeline_spark.plans.job import run_extraction

    d = _t(spark, sf_dir, "documents")
    pages = documents_as_pages_df(d)
    out = run_extraction(spark, pages, describe=True, co_locate_hosts=False)

    def toks(col):
        return F.filter(
            F.split(F.lower(F.regexp_replace(col, "[^a-zA-Z0-9]+", " ")), " "),
            lambda t: t != "",
        )

    ext = (
        out.select("url", F.explode(toks(F.col("markdown"))).alias("tok"))
        .groupBy("url", "tok")
        .agg(F.count("*").alias("cnt_e"))
    )
    urls = d.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        "text",
    )
    src = (
        urls.select("url", F.explode(toks(F.col("text"))).alias("tok"))
        .groupBy("url", "tok")
        .agg(F.count("*").alias("cnt_s"))
    )
    common = (
        ext.join(src, ["url", "tok"])
        .groupBy("url")
        .agg(F.sum(F.least("cnt_e", "cnt_s")).alias("n_common"))
    )
    n_ext = ext.groupBy("url").agg(F.sum("cnt_e").alias("n_ext"))
    n_src = src.groupBy("url").agg(F.sum("cnt_s").alias("n_src"))
    j = (
        urls.select("url")
        .join(n_src, "url", "left")
        .join(n_ext, "url", "left")
        .join(common, "url", "left")
        .fillna(0, subset=["n_src", "n_ext", "n_common"])
    )
    p = F.when(
        F.col("n_ext") > 0, F.col("n_common") / F.col("n_ext")
    ).otherwise(F.lit(0.0))
    r = F.when(
        F.col("n_src") > 0, F.col("n_common") / F.col("n_src")
    ).otherwise(F.lit(0.0))
    scored = j.select(
        "url",
        F.col("n_src").cast("long").alias("n_src"),
        F.col("n_ext").cast("long").alias("n_ext"),
        F.col("n_common").cast("long").alias("n_common"),
        p.alias("precision"),
        r.alias("recall"),
    )
    f1 = F.when(
        F.col("precision") + F.col("recall") > 0,
        F.lit(2.0) * F.col("precision") * F.col("recall")
        / (F.col("precision") + F.col("recall")),
    ).otherwise(F.lit(0.0))
    return scored.withColumn("f1", f1).orderBy("url")


def _q_text_normalize(spark, sf_dir):
    """X59: Unicode text canonicalization (CCNet-style normalize stage):
    NFC composition + C0/DEL control stripping in an Arrow kernel
    (Python unicodedata), verified byte-for-byte against DuckDB's
    independent utf8proc nfc_normalize — two unrelated Unicode
    implementations agreeing on every md5 is the strongest oracle this
    family can have.  The synthetic corpus is ASCII, so deterministic
    non-NFC noise is injected per doc_id: %3==0 gets decomposed
    e+COMBINING ACUTE / u+COMBINING DIAERESIS sequences (must compose),
    %3==1 gets C0 control characters (must strip), %3==2 is untouched
    (already-normal path — the operator must be a no-op).

    Scale shape: a narrow map (doc_id, text) -> (doc_id, md5, lengths);
    no shuffle at any corpus size."""
    from ocr_pipeline_spark.operators.text_ops import normalize_kernel

    d = _t(spark, sf_dir, "documents")
    injected = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("Cafe\u0301 "), F.col("text"), F.lit(" stru\u0308del")
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("\x07bell\x1f "), F.col("text")),
        )
        .otherwise(F.col("text"))
    )
    with_inj = d.select("doc_id", injected.alias("text"))
    normed = with_inj.mapInPandas(
        normalize_kernel(), schema="doc_id long, text string, norm string"
    )
    return normed.select(
        "doc_id",
        F.md5(F.encode(F.col("norm"), "UTF-8")).alias("norm_md5"),
        F.length("text").cast("long").alias("n_before"),
        F.length("norm").cast("long").alias("n_after"),
    ).orderBy("doc_id")


def _q_minhash_dup_pairs(spark, sf_dir):
    from pyspark.sql import Observation

    from ocr_pipeline_spark.operators.text_ops import (
        log_overflow_metrics,
        lsh_candidate_pairs,
        minhash_kernel,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sigs = d.mapInPandas(
        minhash_kernel(),
        schema="doc_id long, text string, minhash array<bigint>",
    )
    obs = Observation()
    out = lsh_candidate_pairs(sigs, "doc_id", observation=obs).orderBy(
        "id_a", "id_b"
    )
    log_overflow_metrics(obs, "minhash_dup_pairs bucket audit")
    return out


def _ann_recall_row(spark, sf_dir, approx_topk):
    """Shared body of the two ANN recall-assertion queries: exact
    top-10 (one JVM-vectorized scan) vs an approximate arm, returning
    one (k, n_hits) row where n_hits = |exact ∩ approx|.  Both arms
    are TakeOrdered over a single scan; the intersection is a 10-row
    semi join."""
    from ocr_pipeline_spark.operators.ann import cosine_topk_bruteforce

    e = _t(spark, sf_dir, "embeddings")
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


def _q_ann_lsh_recall(spark, sf_dir):
    """Recall of the LSH top-k path against exact top-k, with a HARD
    DuckDB oracle: (k, n_hits) with n_hits = |exact ∩ lsh|.  The
    oracle asserts n_hits = k: at n_planes=4, n_tables=24 the
    deterministic seeded planes give recall 1.0 on this fixture
    (calibrated at sf 0.001 / 0.01 / 0.1 for the top-k query point;
    the compare runs at sf0.01), so any regression in signatures,
    bucketing, or re-rank flips the hash."""
    from ocr_pipeline_spark.operators.ann import lsh_ann_topk

    return _ann_recall_row(
        spark, sf_dir,
        lambda rest, query: lsh_ann_topk(
            rest, "embedding", "vec_id", query, k=10, n_planes=4, n_tables=24
        ),
    )


def _q_ann_ivf_recall(spark, sf_dir):
    """Recall of the IVF top-k path (hard DuckDB oracle for the
    IVF path): exact top-k vs IVF top-k at n_cells=16, n_probe=12 —
    deterministic seeded init + full-batch distributed Lloyd, so the
    probed cells and therefore n_hits are reproducible.  n_probe is
    calibrated for recall 1.0 at the oracle compare point (sf0.01;
    also exact at sf0.001) — the oracle asserts n_hits = k, so a
    regression in cell training, assignment, or probing flips the
    hash.  At production scale the same pipeline runs n_probe <<
    n_cells."""
    from ocr_pipeline_spark.operators.ann import ivf_ann_topk

    return _ann_recall_row(
        spark, sf_dir,
        lambda rest, query: ivf_ann_topk(
            rest, "embedding", "vec_id", query, k=10, n_cells=16, n_probe=12
        ),
    )


def _q_embedding_near_dup_lsh_recall(spark, sf_dir):
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
    from ocr_pipeline_spark.operators.ann import (
        cosine_near_dup_lsh,
        cosine_pairs_bruteforce,
    )

    e = _t(spark, sf_dir, "embeddings")
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


def _q_doc_embeddings(spark, sf_dir):
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
    from ocr_pipeline_spark.operators.embed import EMBED_DDL, embed_kernel

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        d.mapInPandas(embed_kernel(), schema=EMBED_DDL)
        .select("doc_id", "emb_md5")
        .orderBy("doc_id")
    )


def _q_doc_embed_knn(spark, sf_dir):
    """X53 chained: brute-force cosine top-10 over the TEXT-DERIVED
    embeddings (doc_embeddings kernel feeding the X7 ANN operator in
    one plan — the full corpus->embedding->search loop).  The query
    vector is document 0's embedding, computed driver-side from its
    text by the same pure function (1-row transfer).  Oracle: DuckDB
    re-derives cosine top-k from the witnessed embedding arrays — the
    JVM fold and list_dot_product both reduce left-to-right over
    identical doubles, so the 6-dp rounded values hash-match."""
    from ocr_pipeline_spark.operators.ann import cosine_topk_bruteforce
    from ocr_pipeline_spark.operators.embed import (
        EMBED_DDL,
        embed_kernel,
        embed_text,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    qv = [float(x) for x in embed_text(
        d.filter(F.col("doc_id") == 0).first().text or ""
    )]
    embs = d.filter(F.col("doc_id") != 0).mapInPandas(
        embed_kernel(), schema=EMBED_DDL
    )
    return cosine_topk_bruteforce(embs, "embedding", "doc_id", qv, k=10)


def _q_doc_embed_semdedup(spark, sf_dir):
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
    from ocr_pipeline_spark.operators.embed import EMBED_DDL, embed_kernel
    from ocr_pipeline_spark.operators.semdedup import (
        semdedup,
        train_centroids_sample,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
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


def _q_pagerank_step(spark, sf_dir):
    """Hard DuckDB oracle for the PageRank path: ONE damped power step
    from the uniform vector over the X31 host graph, INTEGER-QUANTIZED
    so every cross-row sum is order-independent and engine-portable.
    Per-edge contribution is (w * S) div out_w(src) with S = 10^12
    (integer division in both engines); the step output is
    rank_q = 0.15*S + (85 * (inflow_q + (n_dangling * S) div n)) div 100,
    i.e. the standard (1-d)/n + d*(inflow + dangling/n) step scaled by
    S*n — exercising the same graph build, transition normalization,
    dangling redistribution, and teleport arithmetic as a full power
    iteration, but hash-provable against SQL on the witnessed edge
    list.

    Scale shape: edges checkpointed once (kernel subtree), one keyed
    agg for out-weights, one partial-aggregated inflow group-by;
    scalars (n, n_dangling) ride broadcast cross joins — no collect."""
    from ocr_pipeline_spark.fixtures.gen_pages import generate_pages_df
    from ocr_pipeline_spark.operators.links_op import host_link_graph

    n_pages = min(
        max(500, int(float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) * 200_000)),
        4000,
    )
    pages = generate_pages_df(spark, n_pages, seed=42, cross_links=True)
    S = 1_000_000_000_000
    e = (
        host_link_graph(pages)
        .select(
            F.col("src_host").alias("src"),
            F.col("dst_host").alias("dst"),
            F.col("n_links").cast("long").alias("w"),
        )
        # kernel-derived subtree with multiple consumers below: pin it
        # (the anchor_texts materialization policy)
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("src").alias("host"))
        .union(e.select(F.col("dst").alias("host")))
        .distinct()
    )
    n_df = nodes.agg(F.count("*").alias("n"))
    outw = e.groupBy("src").agg(F.sum("w").alias("ow"))
    ndang_df = nodes.join(
        outw.select(F.col("src").alias("host")), "host", "left_anti"
    ).agg(F.count("*").alias("nd"))
    inflow = (
        e.join(outw, "src")
        .select("dst", F.expr(f"(w * {S}L) div ow").alias("c"))
        .groupBy(F.col("dst").alias("host"))
        .agg(F.sum("c").alias("qq"))
    )
    return (
        nodes.join(inflow, "host", "left")
        .crossJoin(F.broadcast(n_df))
        .crossJoin(F.broadcast(ndang_df))
        .select(
            "host",
            (
                F.lit(int(0.15 * S))
                + F.expr(f"(85 * (coalesce(qq, 0L) + (nd * {S}L) div n)) div 100")
            ).cast("long").alias("rank_q"),
        )
        .orderBy("host")
    )


def _q_pdf_page_explode(spark, sf_dir):
    """S2 graft for binary PDF payloads: structural page split
    (sources/pdf.py, ref stage2_ocr.py:406-442) -> explode() to page
    rows -> per-page text extraction.  Input: the deterministic PDF
    corpus (pure function of seed+doc_id); sf scales n_docs."""
    from ocr_pipeline_spark.fixtures.gen_pdfs import generate_pdfs_df
    from ocr_pipeline_spark.sources.pdf import explode_pdf_pages, page_text_xy

    n = min(max(100, int(float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) * 40_000)), 2000)
    docs = generate_pdfs_df(spark, n, seed=42)
    pages = explode_pdf_pages(docs, "payload")

    def text_kernel(batches):
        for pdf in batches:
            out = pdf[["url", "page_num"]].copy()
            out["n_bytes"] = [len(c or b"") for c in pdf["content"]]
            out["text"] = [page_text_xy(c) for c in pdf["content"]]
            yield out

    return pages.mapInPandas(
        text_kernel,
        schema="url string, page_num int, n_bytes bigint, text string",
    ).orderBy("url", "page_num")


def _q_pdf_layout_markdown(spark, sf_dir):
    """X52: heading/table reconstruction from POSITIONED layout — the
    layout-payload half of the north rule's "table/heading
    reconstruction": 18pt/14.5pt font sizes become #/## headings,
    x-aligned cell runs become markdown tables, lines re-linearized by
    XY-cut (kernel/layout.py).  Input: the deterministic layout-rich
    report corpus (pure function of seed+doc_id, like the WARC query's
    fixture side); the product path is the same kernel over a binary
    PDF column.

    Scale shape: ONE narrow mapInPandas (generate -> structural split
    -> positioned parse -> reconstruct, fused per batch), no shuffle.
    Oracle: golden witness from the single-process twin
    (scripts/gen_witness.py) — equality proves the distributed
    reconstruction is byte-identical per url."""
    import pandas as pd  # noqa: F811

    n = min(
        max(100, int(float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) * 40_000)),
        2000,
    )

    def kernel(batches):
        from ocr_pipeline_spark.fixtures.gen_pdfs import report_pdf
        from ocr_pipeline_spark.sources.pdf import (
            _split_structural,
            page_markdown_xy,
        )

        for pdf in batches:
            urls, mds = [], []
            for i in pdf["id"]:
                url, payload = report_pdf(42, int(i))
                page = _split_structural(payload)[0]
                urls.append(url)
                mds.append(page_markdown_xy(page["content"]))
            yield pd.DataFrame({"url": urls, "markdown": mds})

    out = spark.range(n).mapInPandas(
        kernel, schema="url string, markdown string"
    )
    return out.select(
        "url",
        F.md5(F.encode("markdown", "UTF-8")).alias("markdown_md5"),
        F.length("markdown").alias("n_chars"),
    ).orderBy("url")


def _q_near_dup_verified(spark, sf_dir):
    from ocr_pipeline_spark.operators.text_ops import verified_near_dups

    d = _t(spark, sf_dir, "documents")
    return verified_near_dups(d, "doc_id", "text", threshold=0.3).orderBy(
        "id_a", "id_b"
    )


def _q_fuzzy_decontamination(spark, sf_dir):
    """X60: fuzzy benchmark decontamination — corpus documents that are
    NEAR-duplicates of a held-out eval set (doc_id % 97 == 0) under
    MinHash-LSH banding with exact char-3-gram Jaccard verification at
    0.5.  Paraphrased or
    lightly-edited eval leaks survive the exact-gram check; this is the
    pass that catches them.  Deterministic leaks are injected first:
    corpus docs with doc_id % 89 == 0 (and not themselves eval) take
    the text of eval doc 97*(doc_id % 6) plus eight of their own words
    — near-dup but not exact.

    Scale shape: the eval side is SMALL by definition (benchmarks), so
    its band table and texts are BROADCAST; the corpus is banded by the
    same narrow kernel and probes the broadcast buckets — bipartite,
    never a self-join, no intra-bucket pair explosion, no hot-bucket
    policy needed (operators/text_ops.cross_corpus_near_dups).  Oracle:
    golden witness from the single-process twin
    (scripts/gen_witness.py)."""
    from ocr_pipeline_spark.operators.text_ops import cross_corpus_near_dups

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ev = d.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("ref_id"), F.col("text").alias("ref_text")
    )
    first8 = F.concat_ws(" ", F.slice(F.split("text", " "), 1, 8))
    injected = (
        d.withColumn("_pick", ((F.col("doc_id") % 6) * 97).cast("long"))
        .join(F.broadcast(ev), F.col("_pick") == F.col("ref_id"), "left")
        .select(
            "doc_id",
            F.when(
                (F.col("doc_id") % 89 == 0)
                & (F.col("doc_id") % 97 != 0)
                & F.col("ref_text").isNotNull(),
                F.concat(F.col("ref_text"), F.lit(" "), first8),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    corpus = injected.filter(F.col("doc_id") % 97 != 0)
    return cross_corpus_near_dups(
        corpus, ev.select("ref_id", F.col("ref_text").alias("text")),
        corpus_id="doc_id", ref_id="ref_id", threshold=0.5,
    ).orderBy("doc_id", "ref_id")


def _q_wet_export(spark, sf_dir):
    """X61: WET export — the extracted text re-packed as WARC
    'conversion' records (Common Crawl's WET layout: per-record gzip
    members, text/plain payloads), sharded content-addressed
    (md5(url) -> shard, so shard membership never depends on
    partitioning or parallelism), records url-sorted within a shard and
    gzip mtime pinned, so every shard's container bytes — and md5 — are
    deterministic.  Together with the WARC reader (X44) this closes the
    crawl container loop: WARC in, extraction, WET out.

    Scale shape: extraction is the usual map-only kernel; the only
    shuffle is the shard groupBy (a shard is one WET *file* — n_shards
    grows with the corpus, each group stays file-sized); the blob never
    leaves the executor, only (md5, sizes) do.  Oracle: golden witness
    from the single-process twin (scripts/gen_witness.py), which
    re-derives the container bytes from the kernel loop with no Spark
    and no shared shard state."""
    from ocr_pipeline_spark.fixtures.gen_pages import documents_as_pages_df
    from ocr_pipeline_spark.plans.job import run_extraction
    from ocr_pipeline_spark.sources.warc import wet_export_df

    pages = documents_as_pages_df(_t(spark, sf_dir, "documents"))
    out = run_extraction(spark, pages, describe=True, co_locate_hosts=False)

    # WARC-Date from the SAME naive-datetime arithmetic the witness
    # uses (page_ts + strftime): a Spark-timestamp round trip through
    # date_format would render in the session timezone, and a DST-gap
    # wall time (reachable at doc_id ≳ 113k under a DST zone) would
    # shift — splitting the shard md5s from the witness.  Pure Python
    # on the url-embedded doc_id is timezone-free by construction.
    from pyspark.sql import types as T

    @F.pandas_udf(T.StringType())
    def _wet_date(urls):
        from ocr_pipeline_spark.fixtures.gen_pages import page_ts

        return urls.map(
            lambda u: page_ts(int(u.rsplit("/", 1)[1])).strftime(
                "%Y-%m-%dT%H:%M:%SZ"
            )
        )

    extracted = out.select(
        "url",
        _wet_date(F.col("url")).alias("wet_date"),
        F.col("markdown").alias("text"),
    )
    return wet_export_df(extracted, n_shards=8).orderBy("shard")


def _q_bpe_pair_counts(spark, sf_dir):
    """X39 (tokenizer training, iteration-0 statistics): corpus-weighted
    adjacent-symbol-pair counts — the scoring table BPE's first merge
    selects from.  Symbols are unicode characters, so a pair is the
    2-char substring at each position, weighted by the word's corpus
    frequency.  Integer-exact; top-200 under the total order
    (n DESC, pair ASC) so the result is engine-independent.

    Scale shape: one partial-aggregated word-count shuffle (|vocab|
    rows cross the exchange, not |corpus| tokens) -> pair explode over
    the SMALL vocab frame -> one more partial-aggregated group-by ->
    TakeOrdered.  The corpus is scanned once."""
    from ocr_pipeline_spark.operators.bpe import word_counts_df

    wc = word_counts_df(_t(spark, sf_dir, "documents"))
    pairs = wc.select(
        F.explode(
            F.when(
                F.length("word") >= 2,
                F.expr(
                    "transform(sequence(1, length(word) - 1), "
                    "i -> substring(word, i, 2))"
                ),
            ).otherwise(F.expr("array()"))
        ).alias("pair"),
        "wc",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(200)
    )


def _q_bpe_merges(spark, sf_dir):
    """X39 (tokenizer training): the learned BPE merge list.  The
    corpus-bound stage is the distributed weighted word count; merge
    learning runs over the BOUNDED top-V vocabulary (V rows cross to
    the driver regardless of corpus size — the SentencePiece/HF
    architecture, see operators/bpe.py).  Oracle: golden witness from
    the single-process twin (scripts/gen_witness.py) — equality proves
    distributed-wordcount + bounded-vocab training == direct training
    over the raw corpus."""
    from ocr_pipeline_spark.operators.bpe import train_bpe

    merges = train_bpe(
        _t(spark, sf_dir, "documents"), n_merges=64, vocab_cap=20_000
    )
    return spark.createDataFrame(
        [(i, l, r) for i, (l, r) in enumerate(merges)],
        schema="rank int, lhs string, rhs string",
    ).orderBy("rank")


def _q_warc_records(spark, sf_dir):
    """X44: WARC source round-trip — pack the documents corpus into
    Common-Crawl-layout WARC files (per-record gzip members, 50 pages
    per file), then split them back into page records distributed and
    peel the HTTP envelope.  Oracle: golden witness computed WITHOUT
    the WARC writer or parser (url/date/md5/lengths derived directly
    from the wrapped pages), so a hash match proves the full
    build -> gzip -> member-split -> Content-Length walk -> HTTP-split
    pipeline recovers every record byte-exactly.

    Scale shape: blob packing is the fixture side; the product path is
    `warc_pages_df` — a narrow mapInPandas over a binaryFile scan of
    crawl objects, no shuffle, bomb-guarded per record."""
    from ocr_pipeline_spark.sources.warc import (
        documents_as_warc_df,
        warc_pages_df,
    )

    blobs = documents_as_warc_df(
        _t(spark, sf_dir, "documents"), group_size=50, per_record_gzip=True
    )
    recs = warc_pages_df(blobs, "warc")
    return recs.select(
        "url",
        "warc_date",
        "rec_type",
        "http_status",
        F.md5("html").alias("html_md5"),
        F.length("html").alias("n_html_bytes"),
        "n_rec_bytes",
    ).orderBy("url")


def _q_dsir_weights(spark, sf_dir):
    """X45: DSIR importance-resampling weights (Xie et al. 2023 shape):
    hashed-n-gram likelihood ratio between a target slice (lang='en' —
    "make the raw crawl look like the curated target") and the raw
    corpus, summed per document.  Features are word uni+bigrams hashed
    to 1024 buckets (first 3 md5 hex digits, engine-portable); per-
    bucket weight is the integer-quantized log-likelihood ratio
    floor(log2(c_target+1)) - floor(log2(c_raw+1)) via length(bin(c+1)),
    so every cross-row sum is an order-independent integer sum and the
    DuckDB oracle hash-proves the whole pipeline.  The resampling
    verdict `keep` (doc's avg weight above the corpus mean) is a
    cross-multiplied integer comparison — no float aggregate anywhere.

    Scale shape: the exploded gram stream is aggregated ONCE to
    (doc_id, lang, b, cnt) — bounded at <=1024 rows per document —
    and BOTH consumers (the 1024-row bucket stats and the per-doc
    weighted sum) read that same aggregate: the two branches share an
    identical Exchange, so Spark's exchange reuse (ReusedExchange,
    on by default) runs the explode+md5 map stage once.  The r4 shape
    fed the raw gram stream to both consumers, paying the explode
    twice end-to-end.  Bucket stats broadcast back; the global scalar
    rides a broadcast cross join.  Nothing collects."""
    d = _t(spark, sf_dir, "documents")
    ws = d.select("doc_id", "lang", F.split("text", " ").alias("ws"))
    grams = ws.select(
        "doc_id",
        "lang",
        F.explode(
            F.concat(
                F.col("ws"),
                F.when(
                    F.size("ws") >= 2,
                    F.expr(
                        "transform(sequence(1, size(ws) - 1), "
                        "i -> array_join(slice(ws, i, 2), ' '))"
                    ),
                ).otherwise(F.expr("array()")),
            )
        ).alias("g"),
    )
    feats = grams.select(
        "doc_id",
        "lang",
        # first 3 md5 hex digits -> 0..4095 -> % 1024; single md5 call
        # (the DuckDB twin derives the same integer digit-by-digit)
        (
            F.expr("cast(conv(substring(md5(g), 1, 3), 16, 10) as int)")
            % 1024
        ).alias("b"),
    )
    # single pass over the explode: collapse occurrences per
    # (doc_id, lang, b) first — both downstream consumers hang off
    # this one aggregate (identical Exchange -> ReusedExchange)
    per_doc = feats.groupBy("doc_id", "lang", "b").agg(
        F.count("*").alias("cnt")
    )
    stats = per_doc.groupBy("b").agg(
        F.sum("cnt").alias("c_raw"),
        F.sum(F.when(F.col("lang") == "en", F.col("cnt")).otherwise(0)).alias(
            "c_tgt"
        ),
    )
    qlog = lambda c: F.length(F.bin(c + 1)) - 1  # noqa: E731
    weighted = (
        per_doc.join(F.broadcast(stats), "b")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("cnt") * (qlog(F.col("c_tgt")) - qlog(F.col("c_raw")))
            ).alias("llr_sum"),
            F.sum("cnt").alias("n_feats"),
        )
    )
    totals = weighted.agg(
        F.sum("llr_sum").alias("tot_llr"),
        F.sum("n_feats").alias("tot_feats"),
    )
    return (
        d.select("doc_id")
        .join(weighted, "doc_id", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            F.coalesce("llr_sum", F.lit(0)).alias("llr_sum"),
            F.coalesce("n_feats", F.lit(0)).alias("n_feats"),
            F.when(
                F.col("n_feats") > 0, F.col("llr_sum") / F.col("n_feats")
            ).alias("avg_llr"),
            (
                F.coalesce("llr_sum", F.lit(0)) * F.col("tot_feats")
                > F.col("tot_llr") * F.coalesce("n_feats", F.lit(0))
            ).alias("keep"),
        )
        .orderBy("doc_id")
    )


def _q_cdx_index(spark, sf_dir):
    """X54: CDX-style URL index (the Common Crawl index-server shape):
    every capture keyed by its SURT — host reversed on dots, then
    path, then the query string with parameters in sorted order — so
    one lexicographic sort clusters every capture of a host/prefix
    and a frontier lookup is a range scan, not a full scan.  Urls are
    synthesized deterministically from (source, doc_id) with three
    query-string variants (multi-param unsorted, single-param, none)
    so the param canonicalization is actually exercised; digest is
    md5 of the body, and the capture key is a deterministic monotonic
    integer in the CDX timestamp's 14-digit position (base + doc_id —
    NOT a parseable yyyyMMddHHmmss datetime; a real crawl supplies
    real capture times, and only ordering matters to the index).

    Scale shape: pure narrow JVM string expressions (split / reverse /
    array_join / array_sort) — zero Python, zero joins; the global
    (surt_key, ts) order is the index contract, at 10^12 rows a
    repartitionByRange + sortWithinPartitions producing range-sharded
    CDX files (the orderBy here IS that range sort at toy scale)."""
    from ocr_pipeline_spark.operators.text_ops import exact_dup_key

    d = _synth_urls(_t(spark, sf_dir, "documents"))
    rawq = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("b=2&a=1"))
        .when(F.col("doc_id") % 3 == 1, F.lit("z=9"))
        .otherwise(F.lit(None).cast("string"))
    )
    canonq = F.array_join(F.array_sort(F.split(rawq, "&")), "&")
    surt = F.concat(
        F.array_join(F.reverse(F.split("host", r"\.")), ","),
        F.lit(")"),
        F.col("path"),
        F.coalesce(F.concat(F.lit("?"), canonq), F.lit("")),
    )
    return (
        d.select(
            surt.alias("surt_key"),
            (F.lit(20260200000000) + F.col("doc_id")).alias("ts"),
            F.concat(
                "url", F.coalesce(F.concat(F.lit("?"), rawq), F.lit("")),
            ).alias("url"),
            exact_dup_key(F.col("text")).alias("digest"),
        )
        .orderBy("surt_key", "ts")
    )


def _q_url_canonical_dedup(spark, sf_dir):
    """X63: URL canonicalization + latest-capture retention — the
    url-level dedup every recrawl pipeline runs BEFORE content dedup
    (public analog: the crawler-commons / CC-index canonicalization
    rules): lowercase scheme+host, strip the fragment and default
    ports (:80/:443), drop tracking parameters (utm_*, fbclid,
    gclid), sort the surviving query parameters — then keep only the
    NEWEST capture of each canonical url.  The canonicalizer operates
    on the raw url STRING (the operator's contract), not on the parts
    the fixture happened to synthesize; captures are synthesized with
    six deterministic noise variants (case/port/tracking/fragment/
    param-order) so every rule is exercised and provably collapses.

    Scale shape: pure narrow JVM string/array expressions (split /
    filter-HOF / array_sort / substring_index) — zero Python, zero
    joins, whole-stage codegen end to end — then ONE hash exchange
    (the canon-url groupBy, near-unique keys, partial max(struct)
    collapses same-url captures map-side).  At 10^12 captures this is
    the cheapest possible retention pass: one shuffle of (url, ts)
    pairs, text never moves."""
    d = _t(spark, sf_dir, "documents")
    gid = (F.col("doc_id") % 50).cast("string")
    base = F.concat(
        F.lit("https://"), "source", F.lit(".example.com/page/"), gid
    )
    v = (F.col("doc_id") % 6).cast("int")
    raw = (
        F.when(v == 0, base)
        .when(
            v == 1,
            F.concat(
                F.lit("HTTPS://"),
                F.upper("source"),
                F.lit(".EXAMPLE.COM:443/page/"),
                gid,
            ),
        )
        .when(v == 2, F.concat(base, F.lit("?utm_source=x&utm_campaign=y")))
        .when(v == 3, F.concat(base, F.lit("#section-2")))
        .when(v == 4, F.concat(base, F.lit("?b=2&a=1")))
        .otherwise(F.concat(base, F.lit("?a=1&fbclid=zzz&b=2")))
    )
    caps = d.select(
        "doc_id",
        (F.lit(20260300000000) + F.col("doc_id")).alias("ts"),
        raw.alias("url"),
    )
    nofrag = F.substring_index("url", "#", 1)
    caps = caps.select(
        "doc_id",
        "ts",
        F.lower(F.regexp_extract(nofrag, r"^([^:]+)://", 1)).alias("scheme"),
        F.regexp_replace(nofrag, r"^[^:]+://", "").alias("rest"),
    )
    hostport = F.regexp_extract("rest", r"^([^/]+)", 1)
    caps = caps.select(
        "doc_id",
        "ts",
        "scheme",
        F.regexp_replace(F.lower(hostport), r":(443|80)$", "").alias("host"),
        F.col("rest").substr(F.length(hostport) + 1, F.lit(1 << 20)).alias(
            "pathquery"
        ),
    )
    query = F.when(
        F.col("pathquery").contains("?"),
        F.regexp_replace("pathquery", r"^[^?]*\?", ""),
    )
    cq = F.array_join(
        F.array_sort(
            F.filter(
                F.split(query, "&"),
                lambda x: ~x.rlike("^(utm_[^=]*|fbclid|gclid)="),
            )
        ),
        "&",
    )
    canon = F.concat(
        "scheme",
        F.lit("://"),
        "host",
        F.when(F.col("pathquery") == "", F.lit("/")).otherwise(
            F.substring_index("pathquery", "?", 1)
        ),
        F.when(cq.isNull() | (cq == ""), F.lit("")).otherwise(
            F.concat(F.lit("?"), cq)
        ),
    )
    return (
        caps.select("doc_id", "ts", canon.alias("canon_url"))
        .groupBy("canon_url")
        .agg(
            F.count("*").alias("n_captures"),
            F.max(F.struct("ts", "doc_id")).alias("latest"),
        )
        .select(
            "canon_url",
            "n_captures",
            F.col("latest.ts").alias("latest_ts"),
            F.col("latest.doc_id").alias("latest_doc_id"),
        )
        .orderBy("canon_url")
    )


def _q_host_url_hll(spark, sf_dir):
    """X64: HyperLogLog distinct-URL estimation per host — the
    cardinality sketch every crawl-scale system uses where an exact
    countDistinct would shuffle the full key stream (public analog:
    Flajolet et al. 2007; Spark's own approx_count_distinct is HLL++).
    This is a DETERMINISTIC from-scratch HLL (m=64 registers, md5-based
    hash) so an unrelated engine can replay it bit-for-bit: DuckDB
    computes the identical registers from the identical hash and must
    agree on the estimate to the compare's 6-sig-fig normalization.
    The floating-point path is rounding-proof by construction: register
    terms are summed as EXACT integers (2^(55-rho) as bigint, order
    independent), the alpha*m^2*2^55 numerator is a double scaled only
    by powers of two (exact), and the one division is a single IEEE op
    both engines perform identically.  Exact countDistinct rides along
    as the verification column (rel_err is the observable).

    Scale shape: the sketch path is two partial-aggregated shuffles of
    TINY rows — (host, reg) max(rho) is at most 64 rows per host after
    the map-side combine, then one row per host — while the url strings
    never shuffle at all.  At 10^12 captures this is the whole point:
    the exact-count column used here for verification is the expensive
    plan (a full distinct shuffle) the sketch replaces in production."""
    d = _t(spark, sf_dir, "documents")
    caps = d.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        F.concat(
            F.lit("https://"), "source", F.lit(".example.com/docs/"),
            (F.col("doc_id") % 200).cast("string"),
        ).alias("url"),
    )
    # 60-bit hash: 15 md5 hex digits (sign-safe in a bigint); low 6
    # bits pick the register, the top 54 feed the rank (leading-zero
    # count via bin() length — exact integer ops only, no log2)
    h = F.expr("cast(conv(substring(md5(url), 1, 15), 16, 10) as bigint)")
    w = F.shiftright(h, 6)
    regs = (
        caps.select(
            "host",
            (h % 64).cast("int").alias("reg"),
            F.when(w > 0, F.lit(55) - F.length(F.bin(w)))
            .otherwise(F.lit(55))
            .cast("int")
            .alias("rho"),
        )
        .groupBy("host", "reg")
        .agg(F.max("rho").alias("mreg"))
    )
    per_host = regs.groupBy("host").agg(
        F.sum(F.expr("shiftleft(cast(1 as bigint), 55 - mreg)")).alias(
            "ssum"
        ),
        F.count("*").alias("nhit"),
    )
    exact = caps.groupBy("host").agg(
        F.countDistinct("url").alias("exact_distinct")
    )
    denom = (
        F.col("ssum")
        + (F.lit(64) - F.col("nhit")) * F.lit(1 << 55)
    ).cast("double")
    est = F.lit(0.709 * 64.0 * 64.0 * float(1 << 55)) / denom
    return (
        per_host.join(exact, "host")
        .select(
            "host",
            "exact_distinct",
            est.alias("hll_estimate"),
            (
                F.abs(est - F.col("exact_distinct").cast("double"))
                / F.col("exact_distinct").cast("double")
            ).alias("rel_err"),
        )
        .orderBy("host")
    )


def _q_heavy_hitters_cms(spark, sf_dir):
    """X65: Count-Min-sketch heavy hitters over the token stream — the
    fixed-memory frequent-items structure (Cormode & Muthukrishnan
    2005) crawl pipelines use to spot boilerplate tokens / hot n-grams
    without materializing a full term dictionary.  Deterministic
    from-scratch CMS: depth 4, width 256, row hashes md5(j || ':' ||
    term) so the DuckDB twin rebuilds the identical 1024 cells and the
    identical min-over-rows estimates; all arithmetic is exact integer
    sums.  Emits every term whose CMS estimate clears 1/200 of the
    token mass, with the true count and the (provably >= 0) sketch
    overcount beside it — the one-sided-error invariant IS the output.

    Scale shape: the ONLY corpus-sized shuffle is the token groupBy
    (partial count collapses per-term map-side — the same aggregate a
    vocab build already pays); the sketch is built from that term table
    (equivalent by sum-additivity to streaming raw tokens) and is 1024
    rows, the estimate join broadcasts it, and the token-mass threshold
    is a 1-row broadcast cross join.  No window, no all-pairs, nothing
    driver-side."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("term")).filter(
        F.col("term") != ""
    )
    counts = toks.groupBy("term").agg(F.count("*").alias("true_count"))
    rows = spark.range(4).select(F.col("id").cast("int").alias("j"))
    tb = counts.crossJoin(F.broadcast(rows)).select(
        "term",
        "true_count",
        "j",
        F.expr(
            "cast(conv(substring(md5(concat(cast(j as string), ':', term)),"
            " 1, 2), 16, 10) as int)"
        ).alias("bucket"),
    )
    sketch = tb.groupBy("j", "bucket").agg(F.sum("true_count").alias("cell"))
    est = (
        tb.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("term", "true_count")
        .agg(F.min("cell").alias("est_count"))
    )
    total = counts.agg(F.sum("true_count").alias("total"))
    return (
        est.crossJoin(F.broadcast(total))
        .filter(F.col("est_count") * 200 >= F.col("total"))
        .select(
            "term",
            "true_count",
            "est_count",
            (F.col("est_count") - F.col("true_count")).alias("overcount"),
        )
        .orderBy("term")
    )


def _q_containment_pairs(spark, sf_dir):
    """X66: asymmetric containment detection — C(A,B) = |S(A)∩S(B)| /
    |S(A)| over char-3-gram shingles (Broder 1997's containment, the
    companion measure to resemblance/Jaccard).  Catches the
    quote/excerpt/syndication relationships symmetric dedup misses: a
    200-char snippet verbatim inside a 5000-char page has containment
    ~1 but Jaccard ~0.04, so a resemblance-only pipeline keeps every
    excerpt as 'unique'.  Excerpt rows are synthesized deterministically
    (prefix-200 of every 5th long doc, id offset 1e7) so the operator
    provably finds planted containments the near-dup family does not.

    Scale shape: identical to the blocked Jaccard operator — ONE
    shuffle on the host block key, then a single boolean gram-matrix
    GEMM per block whose diagonal already holds the containment
    denominators (the asymmetric measure is free); integer-exact
    output, blocks above max_block skipped (mega-hosts go through the
    MinHash candidate path first at corpus scale)."""
    from ocr_pipeline_spark.operators.text_ops import (
        blocked_containment_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    snippets = d.filter(
        (F.col("n_chars") >= 400) & (F.col("doc_id") % 5 == 0)
    ).select(
        (F.col("doc_id") + 10000000).alias("doc_id"),
        "source",
        F.substring("text", 1, 200).alias("text"),
    )
    corpus = d.select("doc_id", "source", "text").unionByName(snippets)
    return blocked_containment_pairs(
        corpus, "doc_id", "text", "source", threshold_num=9,
        threshold_den=10,
    ).orderBy("id_contained", "id_container")


def _q_corpus_curation(spark, sf_dir):
    """X55: the flagship curation COMPOSITION in one Catalyst plan —
    hygiene filter -> exact dedup (keep lowest doc_id per content
    hash) -> per-language content-addressed quota (40 docs/lang) —
    i.e. the standard corpus-build chain (a single length predicate
    so each stage visibly changes the row set at the compare sf),
    fused to prove
    the stage shapes compose into a single lazily-planned pipeline a
    user would actually ship.

    Scale shape: narrow filter (reads only n_chars + the hash) ->
    ONE content-hash shuffle with map-side partial aggregation
    (min-struct keeps the winning doc, never a window over raw rows)
    -> ONE language-keyed window over the already-deduped survivors,
    quota rank content-addressed (md5 of doc_id: reproducible across
    runs, partitionings, and engines — never rand()).  Two keyed
    shuffles total; nothing collects; both hot keys (content hash,
    lang) are high-cardinality or quota-bounded."""
    from ocr_pipeline_spark.operators.text_ops import exact_dup_key

    d = _t(spark, sf_dir, "documents")
    kept = (
        d.filter(F.col("n_chars") >= 120)
        .groupBy(exact_dup_key(F.col("text")).alias("h"))
        .agg(F.min(F.struct("doc_id", "lang")).alias("s"))
        .select(F.col("s.doc_id").alias("doc_id"), F.col("s.lang").alias("lang"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        kept.withColumn("pick_rank", F.row_number().over(w))
        .filter(F.col("pick_rank") <= 40)
        .select("lang", "pick_rank", "doc_id")
        .orderBy("lang", "pick_rank")
    )


def _q_frontier_schedule(spark, sf_dir):
    """X56: politeness-aware crawl-frontier scheduling — the step
    between the robots filter (X51) and the fetch: assign every
    frontier url a fetch shard (so one host never spans two fetchers
    and per-host state stays local) and a dispatch slot that enforces
    the host's crawl delay (slot k fetches at k*delay seconds; hosts
    with more pending urls stretch further into the future, which is
    exactly the budget signal a recrawl scheduler consumes).  Shard
    count 8, per-host delay synthesized deterministically (2s, hosts
    with n%2==0 get 5s) so the SQL twin rebuilds it; priority order
    inside a host is content-addressed (md5 of the url — stable
    across runs and engines, never rand()).

    Scale shape: ONE host-keyed window (the same key the fetcher
    partitions by, so the shuffle that computes the schedule is the
    shuffle that ships urls to fetchers — it is free at plan level);
    shard assignment is a narrow hash expression; no joins, nothing
    collects.  At 10^12 urls the window is bounded per host, and the
    WindowGroupLimit-style pruning a real frontier applies (top-K
    urls per host per cycle) drops straight into the same plan."""
    urls = _synth_urls(_t(spark, sf_dir, "documents"))
    delay = F.when(F.col("hn") % 2 == 0, F.lit(5)).otherwise(F.lit(2))
    w = Window.partitionBy("host").orderBy(F.md5(F.col("url")), "url")
    return (
        urls.select(
            "url",
            "host",
            F.pmod(
                F.conv(F.substring(F.md5(F.col("host")), 1, 2), 16, 10)
                .cast("int"),
                F.lit(8),
            ).alias("fetch_shard"),
            ((F.row_number().over(w) - F.lit(1)) * delay)
            .cast("bigint").alias("dispatch_at_s"),
        )
        .orderBy("host", "dispatch_at_s", "url")
    )


def _q_line_dedup(spark, sf_dir):
    """X47: CCNet/RefinedWeb-style paragraph-level dedup — drop every
    paragraph whose content appears in MORE THAN ONE distinct document
    (document frequency across the corpus; repeats *within* one doc are
    kept), then re-assemble each document from its surviving paragraphs
    in original order.  Paragraphs are the fixture's 40-word chunks
    (matching gen_pages.wrap_document_as_page), keyed by md5 so the
    frequency join is engine-portable.  The re-assembled text is
    witnessed by md5, so the oracle proves byte-equal reassembly, not
    just matching counts.

    Scale shape: posexplode -> ONE partial-aggregated group-by on the
    paragraph hash (countDistinct doc_id is a two-phase partial agg) ->
    hash-keyed join back (bucketable; AQE broadcasts the duplicated-
    lines side when small, as it is in real crawls where dup lines are
    a tail) -> per-doc sort_array(collect_list) bounded by document
    size.  No pair expansion anywhere — this is the linear-cost
    alternative to pairwise near-dup for boilerplate/banner removal."""
    d = _t(spark, sf_dir, "documents")
    ws = d.select("doc_id", F.split("text", " ").alias("ws"))
    lines = ws.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, cast(floor((size(ws) - 1) / 40) "
                "as int)), i -> array_join(slice(ws, i * 40 + 1, 40), ' '))"
            )
        ).alias("pos", "line"),
    ).withColumn("h", F.md5(F.encode("line", "UTF-8")))
    freq = lines.groupBy("h").agg(
        F.countDistinct("doc_id").alias("df")
    )
    kept = lines.join(freq, "h").filter(F.col("df") <= 1)
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.md5(
            F.encode(
                F.concat_ws(
                    "\n",
                    F.expr(
                        "transform(sort_array(collect_list("
                        "struct(pos, line))), x -> x.line)"
                    ),
                ),
                "UTF-8",
            )
        ).alias("kept_md5"),
    )
    n_lines = lines.groupBy("doc_id").agg(F.count("*").alias("n_lines"))
    empty_md5 = "d41d8cd98f00b204e9800998ecf8427e"
    return (
        n_lines.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("kept_md5", F.lit(empty_md5)).alias("kept_md5"),
        )
        .orderBy("doc_id")
    )


def _q_classifier_scores(spark, sf_dir):
    """X46: hashed-feature linear classifier inference (the
    DCLM/FineWeb-Edu fastText-classifier shape): per-document quality
    score = sum over words of a weight looked up by feature hash.
    Weights here are synthesized deterministically from the feature
    hash itself (first two md5 hex digits - 128 -> [-128, 127]); a
    deployment swaps in trained weights as a broadcast array without
    changing the plan.  All-integer, so the score is order-independent
    and the DuckDB oracle hash-proves it.

    Scale shape: ZERO shuffles — score and verdict are computed per
    row with JVM higher-order functions (transform + aggregate) inside
    whole-stage codegen; inference cost is a pure map over the scan,
    exactly what classifier-filtering 100 TB requires."""
    d = _t(spark, sf_dir, "documents")
    w = (
        "(locate(substring(md5(concat('w', w)), 1, 1), "
        "'0123456789abcdef') - 1) * 16 "
        "+ locate(substring(md5(concat('w', w)), 2, 1), "
        "'0123456789abcdef') - 1 - 128"
    )
    score = F.expr(
        f"aggregate(transform(split(text, ' '), w -> {w}), "
        "0L, (acc, x) -> acc + x)"
    )
    return (
        d.select(
            "doc_id",
            F.size(F.split("text", " ")).alias("n_words"),
            score.alias("score"),
        )
        .withColumn("label", F.col("score") >= 0)
        .orderBy("doc_id")
    )


def _dup_gram_hits(d, k: int = 8):
    """Shared mark phase of the Lee et al. span dedup: (doc_id, pos)
    of every word k-gram occurrence whose gram occurs >= 2 times
    corpus-wide.

    Scale shape: TWO-PHASE counting — `groupBy(g).count()` (map-side
    partial agg collapses a boilerplate gram that occurs millions of
    times into one row per map task) followed by a LEFT SEMI join of
    the occurrence stream against the duplicated gram keys.  The
    previous shape (`count().over(Window.partitionBy("g"))`) had no
    partial aggregation: every occurrence row of a hot gram shuffled
    to a single reducer's sort buffer — the straggler at 100 TB.  The
    semi join still shuffles gram groups by g, but a sort-merge/hash
    join partition is AQE-skew-splittable (OptimizeSkewedJoin),
    while a Window partition never is.  No pair expansion anywhere.

    The explode+md5 map stage runs ONCE: the occurrence stream is
    first collapsed to (g, doc_id, positions[]) — keyed by BOTH g and
    doc_id, so even a boilerplate gram in millions of documents
    spreads across that exchange instead of piling on one reducer —
    and both consumers (the per-g total and the semi-join probe) hang
    off that same aggregate, sharing its Exchange (ReusedExchange,
    verified by plan test).  Positions per (g, doc_id) are bounded by
    document length.  Gram key is md5 (engine-portable for the
    oracle; swap for xxhash64 when DuckDB parity is not needed).
    Integer-exact."""
    ws = d.select("doc_id", F.split("text", " ").alias("ws"))
    grams = ws.filter(F.size("ws") >= k).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(ws) - {k - 1}), "
                f"i -> struct(i AS pos, md5(array_join(slice(ws, i, {k}), ' ')) AS g))"
            )
        ).alias("e"),
    ).select("doc_id", F.col("e.pos").alias("pos"), F.col("e.g").alias("g"))
    # exactly ONE aggregate expression (ps) so both consumers keep an
    # identical column set — column pruning would otherwise specialize
    # the two exchange subtrees and break ReusedExchange
    per_gd = grams.groupBy("g", "doc_id").agg(
        F.collect_list("pos").alias("ps")
    )
    dup_keys = (
        per_gd.groupBy("g").agg(F.sum(F.size("ps")).alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("g")
    )
    # INNER join, not left_semi: dup_keys.g is an aggregate key (unique),
    # so the result is identical — but PushDownLeftSemiAntiJoin would
    # rewrite a semi join to below the probe-side aggregate, splitting
    # the shared exchange back into two full explode+md5 scans
    return (
        per_gd.join(dup_keys, "g")
        .select("doc_id", F.explode("ps").alias("pos"))
    )


def _q_dup_spans(spark, sf_dir):
    """Exact duplicated-substring SPAN MARKING (the Lee et al.
    'Deduplicating Training Data' primitive): every maximal run of
    word 8-grams that occurs >= 2 times corpus-wide is emitted as a
    removable (doc_id, span_start, span_end) interval.

    Scale shape: two-phase gram counting (partial agg + semi join,
    see _dup_gram_hits — hot grams collapse map-side, the join is
    AQE-skew-splittable); island-merging is a per-document window
    (partitioned by doc).  Integer-exact."""
    d = _t(spark, sf_dir, "documents")
    k = 8
    hits = _dup_gram_hits(d, k)
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + (k - 1)).over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = hits.withColumn(
        "new_island",
        F.when(F.col("pos") <= F.coalesce(prev_end, F.lit(-1)) + 1, 0).otherwise(1),
    ).withColumn(
        "island",
        F.sum("new_island").over(
            w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") + (k - 1)).cast("int").alias("span_end"),
            F.count("*").cast("int").alias("n_grams"),
        )
        .drop("island")
        .orderBy("doc_id", "span_start")
    )


def _q_dedup_apply_spans(spark, sf_dir):
    """Exact duplicated-substring REMOVAL (completes the Lee et al.
    mark -> cut loop of dup_spans): every word covered by a marked span
    is dropped and the document re-joined; output is md5-witnessed so
    the oracle proves the exact same post-cut text.

    Scale shape: the span marking reuses dup_spans' two-phase plan
    (_dup_gram_hits: partial-agg gram counting + AQE-skew-splittable
    semi join, no pair expansion); spans per document are bounded by
    document length, so the per-doc collect_list is small; the cut is
    one JVM higher-order filter — narrow, no extra shuffle beyond the
    doc-key group."""
    d = _t(spark, sf_dir, "documents")
    k = 8
    ws = d.select("doc_id", F.split("text", " ").alias("ws"))
    hits = _dup_gram_hits(d, k)
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + (k - 1)).over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1)
    )
    spans = (
        hits.withColumn(
            "new_island",
            F.when(F.col("pos") <= F.coalesce(prev_end, F.lit(-1)) + 1, 0)
            .otherwise(1),
        )
        .withColumn(
            "island",
            F.sum("new_island").over(
                w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + (k - 1)).alias("e"),
        )
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("s", "e")).alias("spans"))
    )
    cut = ws.join(spans, "doc_id", "left").select(
        "doc_id",
        F.size("ws").alias("n_words"),
        F.expr(
            "transform(filter(transform(ws, (w, i) -> struct(w AS w, i + 1 AS p)),"
            " p -> spans IS NULL OR NOT exists(spans,"
            " s -> p.p >= s.s AND p.p <= s.e)), x -> x.w)"
        ).alias("kept"),
    )
    return cut.select(
        "doc_id",
        F.col("n_words").cast("int").alias("n_words"),
        (F.col("n_words") - F.size("kept")).cast("int").alias("n_removed"),
        F.md5(F.array_join("kept", " ")).alias("new_md5"),
    ).orderBy("doc_id")


def _q_extract_pdf_documents(spark, sf_dir):
    """Full PDF pipeline: binary payloads -> page split -> the SAME
    extraction kernel + cleaning + per-document assembly as html pages
    (sources/pdf.py:pdf_to_pages_df).  Ref analog: the reference's
    whole per-PDF flow (render -> OCR -> assemble)."""
    from ocr_pipeline_spark.fixtures.gen_pdfs import generate_pdfs_df
    from ocr_pipeline_spark.operators.assembly_op import assemble_documents
    from ocr_pipeline_spark.plans.job import run_extraction
    from ocr_pipeline_spark.sources.pdf import pdf_to_pages_df

    n = min(max(100, int(float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) * 40_000)), 2000)
    docs = generate_pdfs_df(spark, n, seed=42)
    pages = pdf_to_pages_df(docs)
    extracted = run_extraction(spark, pages, describe=True, co_locate_hosts=False)
    return (
        assemble_documents(extracted)
        .select("doc_key", "n_pages", "n_chars")
        .orderBy("doc_key")
    )


def _q_dedup_soft_weights(spark, sf_dir):
    """Soft deduplication (X62): instead of DROPPING near-duplicates,
    every document keeps a training weight 1/|cluster| so each near-dup
    cluster contributes exactly one document's worth of sampling mass —
    the duplicate-reweighting retention policy modern curation pipelines
    use when hard dedup would discard rare in-cluster variation (public
    analog: DataComp-LM's soft dedup option; Nemotron-CC keeps
    duplicates with scaled counts).  Edges are the oracled within-host
    Jaccard pairs, clusters are min-label components, and unimplicated
    docs weigh 1.0.  The weight is one IEEE division of two exact
    integers, so the DuckDB twin agrees to the compare's 6-sig-fig
    normalization with no rounding games.

    Scale shape: cluster sizing is a partial-aggregated count over the
    (id, component) labels — O(docs-in-clusters) rows, never text —
    joined back to the label table and LEFT-joined to the corpus on its
    id; the documents themselves never reshuffle.  At 10^12 docs the
    added cost over component-finding is two keyed exchanges of long
    pairs."""
    from ocr_pipeline_spark.operators.components import connected_components
    from ocr_pipeline_spark.operators.text_ops import blocked_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = blocked_jaccard_pairs(
        d, "doc_id", "text", "source", threshold_num=3, threshold_den=5
    )
    comp = connected_components(pairs)
    sizes = comp.groupBy("comp").agg(F.count("*").alias("cluster_size"))
    labeled = comp.join(sizes, "comp").select(
        F.col("id").alias("doc_id"), "cluster_size"
    )
    return (
        d.select("doc_id")
        .join(labeled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_size"), F.lit(1))
            .cast("long")
            .alias("cluster_size"),
            (
                F.lit(1.0)
                / F.coalesce(F.col("cluster_size"), F.lit(1)).cast("double")
            ).alias("weight"),
        )
        .orderBy("doc_id")
    )


_BM25_TERMS = ("spark", "window", "join")
_BM25_K1 = 1.5
_BM25_B = 0.75


def _bm25_scored_df(spark, sf_dir):
    """(doc_id, score) BM25 frame: _q_hybrid_search's lexical arm,
    built from the same term list and constants as _bm25_sql_parts so
    the Spark and SQL sides cannot drift.  The cross-term sum is a
    literal left-to-right chain over a constant number of terms: NO
    float aggregation whose accumulation order could differ across
    engines."""
    d = _t(spark, sf_dir, "documents")
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


def _q_hybrid_search(spark, sf_dir):
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
    e = _t(spark, sf_dir, "embeddings")
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


def _bm25_sql_parts() -> tuple[str, str, str]:
    """tf/df/score SQL fragments for the hybrid_search oracle's BM25
    arm, generated from the same term list and constants as the Spark
    expression so the twins can't drift."""
    k1, b = _BM25_K1, _BM25_B
    tf_cols = ",\n                   ".join(
        f"CAST(len(list_filter(ws, x -> x = '{t}')) AS DOUBLE) AS tf_{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ",\n                   ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN CAST(1 AS DOUBLE) "
        f"ELSE CAST(0 AS DOUBLE) END) AS df_{i}"
        for i in range(len(_BM25_TERMS))
    )
    term_exprs = " + ".join(
        f"(((n_docs - df_{i} + CAST(0.5 AS DOUBLE)) / (df_{i} + CAST(0.5 AS DOUBLE)))"
        f" * ((tf_{i} * CAST({k1 + 1.0} AS DOUBLE)) / (tf_{i} + CAST({k1} AS DOUBLE)"
        f" * (CAST({1.0 - b} AS DOUBLE) + CAST({b} AS DOUBLE) * (dl / avgdl)))))"
        for i in range(len(_BM25_TERMS))
    )
    return tf_cols, df_cols, term_exprs


def _hybrid_oracle_sql() -> str:
    """DuckDB twin of _q_hybrid_search: BM25 arm from the shared SQL
    parts, cosine arm as exact top-20 cosine (4dp round),
    RRF as the same two-term fixed-order DOUBLE sum."""
    tf_cols, df_cols, term_exprs = _bm25_sql_parts()
    return f"""
        WITH ws AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ), doc AS (
            SELECT doc_id,
                   CAST(len(ws) AS DOUBLE) AS dl,
                   {tf_cols}
            FROM ws
        ), stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                   sum(dl) / count(*) AS avgdl,
                   {df_cols}
            FROM doc
        ), b_top AS (
            SELECT doc_id, {term_exprs} AS score
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


_GOPHER_STOPS = ("and", "be", "have", "of", "that", "the", "to", "with")


def _q_gopher_rules(spark, sf_dir):
    """X67: Gopher quality rules (Rae et al. 2021 §A1.1) — the published
    per-document repetition-free filter set modern curation stacks
    (Gopher, RefinedWeb, Dolma) apply before model-based scoring: word
    count in [50, 100k], mean word length in [3, 10], >= 80% of words
    contain an alphabetic character, >= 2 distinct required stop words,
    and a symbol-to-word lid on '#' and '...' (<= 0.1 per word).  Every
    threshold is evaluated with CROSS-MULTIPLIED INTEGERS (3*n <= s,
    never s/n >= 3.0), so the flags are bit-identical across engines
    and partitionings — no float thresholds to drift.

    This emits the per-rule verdict vector per document, the shape a
    curation pipeline joins back to the corpus as a filter mask.

    Scale shape: one narrow projection — split + JVM higher-order
    filter + array_intersect per row, no shuffle at all until the
    presentation sort; at 10^12 docs this is a pure map stage fused
    into the scan."""
    d = _t(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    n_hashes = F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))
    ell_diff = F.length("text") - F.length(
        F.replace(F.col("text"), F.lit("..."))
    )
    stops = F.array(*[F.lit(s) for s in _GOPHER_STOPS])
    base = d.select(
        "doc_id",
        ws.alias("ws"),
        n_hashes.alias("n_hash"),
        ell_diff.alias("ell_diff"),
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "))))
        .alias("n_spaces"),
        F.length("text").alias("n_chars"),
    ).select(
        "doc_id",
        F.size("ws").alias("n_words"),
        (F.col("n_chars") - F.col("n_spaces")).alias("sum_wlen"),
        F.expr("size(filter(ws, w -> w rlike '[A-Za-z]'))").alias("n_alpha"),
        F.size(F.array_intersect(F.array_distinct("ws"), stops)).alias(
            "n_stops"
        ),
        "n_hash",
        "ell_diff",
    )
    return base.select(
        "doc_id",
        F.col("n_words").cast("int").alias("n_words"),
        ((F.col("n_words") >= 50) & (F.col("n_words") <= 100_000)).alias(
            "ok_word_count"
        ),
        (
            (3 * F.col("n_words") <= F.col("sum_wlen"))
            & (F.col("sum_wlen") <= 10 * F.col("n_words"))
        ).alias("ok_mean_wlen"),
        (5 * F.col("n_alpha") >= 4 * F.col("n_words")).alias("ok_alpha_words"),
        (F.col("n_stops") >= 2).alias("ok_stop_words"),
        (
            (10 * F.col("n_hash") <= F.col("n_words"))
            & (10 * F.col("ell_diff") <= 3 * F.col("n_words"))
        ).alias("ok_symbols"),
        (
            (F.col("n_words") >= 50)
            & (F.col("n_words") <= 100_000)
            & (3 * F.col("n_words") <= F.col("sum_wlen"))
            & (F.col("sum_wlen") <= 10 * F.col("n_words"))
            & (5 * F.col("n_alpha") >= 4 * F.col("n_words"))
            & (F.col("n_stops") >= 2)
            & (10 * F.col("n_hash") <= F.col("n_words"))
            & (10 * F.col("ell_diff") <= 3 * F.col("n_words"))
        ).alias("keep"),
    ).orderBy("doc_id")


def _q_seq_len_buckets(spark, sf_dir):
    """X68: sequence-length histogram in power-of-2 buckets — the
    training-batch-shape diagnostic (how much of the corpus packs into
    512/1024/2048-token contexts, what truncation at each context size
    costs).  The bucket floor is computed from the BINARY DIGIT COUNT
    of the token count (shiftleft(1, length(bin(n)) - 1)) — pure
    integer arithmetic, immune to the log2(256)=7.999… float edge that
    makes floor(log2(n)) engine-dependent.

    Scale shape: narrow per-row token count -> ONE partial-aggregated
    group-by over at most ~40 distinct buckets — the reduce side is a
    constant-size frame no matter the corpus size."""
    d = _t(spark, sf_dir, "documents")
    b = d.select(F.size(F.split("text", " ")).alias("n_tokens")).select(
        F.expr(
            "shiftleft(1L, length(bin(cast(greatest(n_tokens, 1)"
            " as bigint))) - 1)"
        ).alias("bucket_lo"),
        "n_tokens",
    )
    return (
        b.groupBy("bucket_lo")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("n_tokens").cast("int").alias("min_tokens"),
            F.max("n_tokens").cast("int").alias("max_tokens"),
        )
        .orderBy("bucket_lo")
    )


def _q_bloom_dedup_probe(spark, sf_dir):
    """X69: Bloom-filter membership probe for incremental dedup — the
    third fixed-memory sketch beside HLL (host_url_hll) and Count-Min
    (heavy_hitters_cms), and the structure crawl pipelines actually
    ship to frontier nodes so a new batch can be screened against a
    10^12-key seen-set without a join against the corpus.  Built from
    scratch and deterministic: m = 2^16 bits, k = 4 hashes, bit
    positions are the first 4 hex chars of md5(j ':' key) — the DuckDB
    twin rebuilds the identical bit set, so the per-document verdicts
    hash-match exactly.  Probe batch = docs with doc_id%10 in (4, 9):
    the %10==4 slice is ALSO in the build set (guaranteed true
    positives, proving no-false-negatives), the %10==9 slice is novel
    (any 'maybe' there is a measured false positive — the sketch's
    one-sided error, reported per row).

    Scale shape: the build side collapses to DISTINCT (j, pos) bit
    rows — at most m*k = 262144 regardless of corpus size — which
    broadcasts to the probe side; the probe is one broadcast-join +
    per-key count.  The corpus-sized work is exactly two scans and one
    partial-agg distinct; nothing pairwise, nothing driver-side."""
    d = _t(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id", F.md5(F.encode("text", "UTF-8")).alias("key")
    )
    build_keys = (
        keyed.filter(F.col("doc_id") % 10 != 9).select("key").distinct()
    )
    probe = keyed.filter(
        (F.col("doc_id") % 10 == 9) | (F.col("doc_id") % 10 == 4)
    )
    js = spark.range(4).select(F.col("id").cast("int").alias("j"))

    def _positions(df):
        return df.crossJoin(F.broadcast(js)).withColumn(
            "pos",
            F.expr(
                "cast(conv(substring(md5(concat(cast(j as string), ':', key)),"
                " 1, 4), 16, 10) as long)"
            ),
        )

    bits = _positions(build_keys).select("j", "pos").distinct()
    hits = (
        _positions(probe)
        .join(F.broadcast(bits.withColumn("hit", F.lit(1))), ["j", "pos"],
              "left")
        .groupBy("doc_id", "key")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hits"))
    )
    truth = build_keys.withColumn("present", F.lit(True))
    return (
        hits.join(truth, "key", "left")
        .select(
            "doc_id",
            (F.col("n_hits") == 4).alias("bloom_maybe"),
            F.coalesce(F.col("present"), F.lit(False)).alias("present"),
            (
                (F.col("n_hits") == 4)
                & ~F.coalesce(F.col("present"), F.lit(False))
            ).alias("false_positive"),
        )
        .orderBy("doc_id")
    )


# link_spam and hits_step build their host graph from a page count that
# scales with the sf directory, but both oracles read the
# host_link_graph witness, which exists only at this scale factor
LINK_WITNESS_SF = 0.01


def _link_witness_pages(sf_dir: str) -> int:
    """Page count for link_spam/hits_step; raises at any scale but the
    witness's, where the oracle compare would silently diverge."""
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    if sf != LINK_WITNESS_SF:
        raise ValueError(
            f"link_spam and hits_step run only at sf{LINK_WITNESS_SF}: their "
            f"oracles read the host_link_graph witness, got {sf_dir!r}"
        )
    return min(max(500, int(sf * 200_000)), 4000)


def _q_link_spam(spark, sf_dir):
    """X70: nepotistic-link / link-farm detection over the X31 host
    graph — the link-spam screen (Davison 2000's 'recognizing
    nepotistic links'; the TrustRank-era precursor every crawl ranks
    with) that flags hosts whose out-links concentrate on one target.
    A host is flagged when its single top target receives >= half of
    all its out-links (integer cross-multiply: 2*top >= total) and it
    emits enough links for the signal to mean anything (total >= 10).
    Tie-break for the top target is (n_links DESC, dst_host ASC) so
    the row is engine-deterministic.

    Scale shape: the edge list is already host-aggregated (O(hosts^2)
    worst case, O(hosts * avg-fanout) real) — the window and both aggs
    run on that reduced frame, never on page-level links; at 10^12
    pages the page->host reduction happened once in host_link_graph's
    partial agg."""
    from ocr_pipeline_spark.fixtures.gen_pages import generate_pages_df
    from ocr_pipeline_spark.operators.links_op import host_link_graph

    n_pages = _link_witness_pages(sf_dir)
    pages = generate_pages_df(spark, n_pages, seed=42, cross_links=True)
    e = host_link_graph(pages)
    w = Window.partitionBy("src_host").orderBy(
        F.desc("n_links"), F.asc("dst_host")
    )
    ranked = e.select(
        "src_host",
        "dst_host",
        "n_links",
        F.row_number().over(w).alias("rk"),
        F.sum("n_links").over(Window.partitionBy("src_host")).alias(
            "out_total"
        ),
        F.count("*").over(Window.partitionBy("src_host")).alias("n_dst"),
    )
    return (
        ranked.filter(F.col("rk") == 1)
        .select(
            "src_host",
            F.col("out_total").cast("long").alias("out_total"),
            F.col("n_dst").cast("int").alias("n_dst"),
            F.col("dst_host").alias("top_dst"),
            F.col("n_links").cast("long").alias("top_links"),
            (
                (2 * F.col("n_links") >= F.col("out_total"))
                & (F.col("out_total") >= 10)
            ).alias("is_spam"),
        )
        .orderBy("src_host")
    )


def _q_hits_step(spark, sf_dir):
    """X71: one HITS update (Kleinberg 1999) over the X31 host graph —
    hubs-and-authorities, the second classic link-analysis ranking
    beside PageRank.  From the uniform hub vector h0 = 1, one full
    round: auth_q(v) = sum of edge weights into v (= weighted
    in-degree under h0), then hub_q(u) = sum over u's out-edges of
    w * auth_q(dst).  Both sums are exact integers (edge weights are
    link counts), so — like pagerank_step — the un-normalized step is
    hash-provable against SQL on the witnessed edge list, pinning the
    graph build, the transpose-multiply, and the multiply semantics
    per engine.  (Iterative HITS inserts an L2 normalization between
    rounds, which only rescales each vector — the step ordering this
    oracle pins is the invariant part.)

    Scale shape: edges checkpointed once (kernel subtree, multiple
    consumers); auth is ONE partial-aggregated group-by on dst; hub is
    one keyed join of edges to the O(hosts) auth frame plus a group-by
    on src — no window, no collect, rank state is O(hosts)."""
    from ocr_pipeline_spark.fixtures.gen_pages import generate_pages_df
    from ocr_pipeline_spark.operators.links_op import host_link_graph

    n_pages = _link_witness_pages(sf_dir)
    pages = generate_pages_df(spark, n_pages, seed=42, cross_links=True)
    e = (
        host_link_graph(pages)
        .select(
            F.col("src_host").alias("src"),
            F.col("dst_host").alias("dst"),
            F.col("n_links").cast("long").alias("w"),
        )
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("src").alias("host"))
        .union(e.select(F.col("dst").alias("host")))
        .distinct()
    )
    auth = e.groupBy(F.col("dst").alias("host")).agg(
        F.sum("w").alias("auth_q")
    )
    hub = (
        e.join(auth.select(F.col("host").alias("dst"), "auth_q"), "dst")
        .groupBy(F.col("src").alias("host"))
        .agg(F.sum(F.col("w") * F.col("auth_q")).alias("hub_q"))
    )
    return (
        nodes.join(auth, "host", "left")
        .join(hub, "host", "left")
        .select(
            "host",
            F.coalesce("auth_q", F.lit(0)).cast("long").alias("auth_q"),
            F.coalesce("hub_q", F.lit(0)).cast("long").alias("hub_q"),
        )
        .orderBy("host")
    )


def _q_robots_parse(spark, sf_dir):
    """X72: robots.txt FORMAT parser — the raw-text half of the REP
    story (robots_filter consumes an already-structured rule table;
    this builds that table from robots.txt bodies, the way a crawler
    actually ingests them).  Implements the REP grouping rules
    (RFC 9309 §2.1): consecutive User-agent lines form one group head
    and share the group's rules; comments (#) and blank lines are
    invisible to grouping; directive names are case-insensitive; the
    most specific matching agent group wins (here: a 'ccbot' group
    beats the '*' group; hosts without a ccbot group fall back to *).
    Bodies are synthesized deterministically per host so the DuckDB
    twin parses the identical text.

    Scale shape: the stateful group assignment is a per-HOST window
    over robots.txt LINES — the file is the natural unit and the spec
    caps it at 500 KiB, so the window frame is bounded by file size,
    never corpus size; group metadata and the per-host agent-choice
    flag are partial-aggregated frames of O(hosts) rows."""
    hosts = (
        _synth_urls(_t(spark, sf_dir, "documents"))
        .select("host", "hn")
        .distinct()
    )
    body = F.concat(
        F.lit("# robots.txt for "), F.col("host"), F.lit("\n"),
        F.lit("\n"),
        F.lit("User-Agent: *\n"),
        F.lit("Disallow: /private/\n"),
        F.lit("allow: /private/public/\n"),
        F.concat(F.lit("Crawl-delay: "),
                 (F.lit(1) + F.col("hn") % 7).cast("string"), F.lit("\n")),
        F.when(
            F.col("hn") % 2 == 0,
            F.concat(
                F.lit("\n# crawler-specific group\n"),
                F.lit("User-agent: ccbot\n"),
                F.lit("User-agent: testbot\n"),
                F.lit("Disallow: /docs/\n"),
                F.when(F.col("hn") % 4 == 0,
                       F.lit("Allow: /docs/public/\n")).otherwise(F.lit("")),
            ),
        ).otherwise(F.lit("")),
    )
    lines = hosts.select(
        "host", F.posexplode(F.split(body, "\n")).alias("pos", "raw")
    ).select(
        "host", "pos", F.trim("raw").alias("line")
    ).filter(
        (F.col("line") != "") & ~F.col("line").startswith("#")
        & F.col("line").contains(":")
    ).select(
        "host",
        "pos",
        F.lower(F.trim(F.substring_index("line", ":", 1))).alias("directive"),
        F.trim(F.expr("substring(line, instr(line, ':') + 1)")).alias("value"),
    )
    w_host = Window.partitionBy("host").orderBy("pos")
    grouped = lines.withColumn(
        "is_ua", (F.col("directive") == "user-agent").cast("int")
    ).withColumn(
        "new_group",
        (
            (F.col("is_ua") == 1)
            & (F.coalesce(F.lag("is_ua").over(w_host), F.lit(0)) == 0)
        ).cast("int"),
    ).withColumn("group_id", F.sum("new_group").over(w_host))
    agents = grouped.filter(F.col("is_ua") == 1).groupBy(
        "host", "group_id"
    ).agg(
        F.max((F.col("value") == "ccbot").cast("int")).alias("has_ccbot"),
        F.max((F.col("value") == "*").cast("int")).alias("has_star"),
    )
    host_flag = agents.groupBy("host").agg(
        F.max("has_ccbot").alias("any_ccbot")
    )
    chosen = (
        agents.join(host_flag, "host")
        .filter(
            ((F.col("any_ccbot") == 1) & (F.col("has_ccbot") == 1))
            | ((F.col("any_ccbot") == 0) & (F.col("has_star") == 1))
        )
        .select(
            "host",
            "group_id",
            F.when(F.col("any_ccbot") == 1, "ccbot").otherwise("*").alias(
                "used_agent"
            ),
        )
    )
    return (
        grouped.filter(F.col("is_ua") == 0)
        .join(chosen, ["host", "group_id"])
        .select("host", "used_agent", "directive", "value")
        .orderBy("host", "directive", "value")
    )


def _q_embedding_outliers(spark, sf_dir):
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
    e = _t(spark, sf_dir, "embeddings")
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


def _q_mojibake_repair(spark, sf_dir):
    """X74: ftfy-style mojibake detection + repair — the standard
    crawl-hygiene pass for text whose UTF-8 bytes were somewhere
    misread as Latin-1 ('é' -> 'Ã©').  The kernel garbles each clean
    fixture document under exactly that corruption model, then runs the
    detect->repair pipeline (lead-byte heuristic U+00C2..U+00F4, then
    Latin-1 re-encode + UTF-8 decode); the oracle proves the repair is
    BYTE-EXACT by md5: repaired text must hash to the original.  The
    per-doc stats are engine-portable integers — n_chars of the garbled
    text equals octet_length of the original's UTF-8, n_marks equals
    its count of bytes >= 0x80 — so DuckDB derives every column from
    the clean text alone without being able to fake the round-trip.

    The fixture corpus is pure ASCII (garbling ASCII is the identity),
    so each document is first garnished with a deterministic non-ASCII
    decoration covering 2-, 3- and 4-byte UTF-8 sequences ('é'/'—',
    '№', '😀') — spelled identically by the SQL twin — making the
    repair path non-vacuous on every row.

    Scale shape: narrow Arrow kernel, no shuffle at any size; both
    codec passes are C-side per batch and the text column never
    leaves the worker (only md5 + counters come back)."""
    from ocr_pipeline_spark.operators.text_ops import mojibake_repair_kernel

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("Résumé №"),
            F.col("doc_id").cast("string"),
            F.lit(" 😀 — "),
            F.col("text"),
        ).alias("text"),
    )
    fixed = d.mapInPandas(
        mojibake_repair_kernel(),
        schema="doc_id long, n_chars long, n_marks long, "
               "did_repair boolean, repaired string",
    )
    return fixed.select(
        "doc_id",
        "n_chars",
        "n_marks",
        "did_repair",
        F.md5(F.encode("repaired", "UTF-8")).alias("repaired_md5"),
    ).orderBy("doc_id")


def _q_host_template_lines(spark, sf_dir):
    """X75: host-scoped template-line removal — the inter-document
    boilerplate pass (CCNet/trafilatura family): a paragraph that
    appears on at least half of a host's pages (and on >= 2 of them)
    is site furniture (nav, cookie banner, footer), not content, and
    is stripped from every page; an organically duplicated paragraph
    on a few pages survives.  Differs from line_dedup (corpus-global
    df<=1 dedup) in both scope and rule: the decision is host-local
    and ratio-based.  Every page gets a deterministic synthesized
    banner line (host furniture, spelled identically by the SQL twin —
    same pattern as the crawl queries' _synth_urls), so the detector
    provably fires per host while organic low-ratio dups are kept.
    The reassembled residual text is witnessed by md5, proving
    byte-equal reassembly in original order.

    Scale shape: one partial-aggregated groupBy on (host, line-hash) —
    the hot keys are exactly the template lines and partial agg
    collapses them map-side; host page-counts are a tiny broadcast
    frame (|hosts| rows); the template verdict joins back on the same
    (host, h) key (bucketable, and AQE broadcasts the verdict side —
    |distinct lines| per host — when small).  No pair expansion, one
    corpus scan."""
    d = _synth_urls(_t(spark, sf_dir, "documents"))
    banner = F.concat(
        F.lit("Home | About | Contact — © "),
        F.col("host"),
        F.lit(" — we use cookies"),
    )
    lines = d.select(
        "doc_id",
        "host",
        F.posexplode(
            F.concat(
                F.array(banner),
                F.expr(
                    "transform(sequence(0, cast(floor((size(split(text, ' ')) - 1) / 40) "
                    "as int)), i -> array_join(slice(split(text, ' '), i * 40 + 1, 40), ' '))"
                ),
            )
        ).alias("pos", "line"),
    ).withColumn("h", F.md5(F.encode("line", "UTF-8")))
    host_docs = d.groupBy("host").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    freq = lines.groupBy("host", "h").agg(
        F.countDistinct("doc_id").alias("df")
    )
    template = (
        freq.join(F.broadcast(host_docs), "host")
        .filter((F.col("df") >= 2) & (F.col("df") * 2 >= F.col("n_docs")))
        .select("host", "h", F.lit(True).alias("is_template"))
    )
    kept = (
        lines.join(template, ["host", "h"], "left")
        .filter(F.col("is_template").isNull())
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.md5(
            F.encode(
                F.concat_ws(
                    "\n",
                    F.expr(
                        "transform(sort_array(collect_list("
                        "struct(pos, line))), x -> x.line)"
                    ),
                ),
                "UTF-8",
            )
        ).alias("kept_md5"),
    )
    n_lines = lines.groupBy("doc_id").agg(F.count("*").alias("n_lines"))
    empty_md5 = "d41d8cd98f00b204e9800998ecf8427e"
    return (
        n_lines.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("kept_md5", F.lit(empty_md5)).alias("kept_md5"),
        )
        .orderBy("doc_id")
    )


def _q_phrase_search(spark, sf_dir):
    """X76: positional-postings phrase query — the IR operator bm25
    leaves uncovered: exact multi-word phrase match via
    adjacent-position intersection of two posting lists (Manning's IR
    ch.2 positional index).  The query set is derived from the corpus
    itself for determinism: the 5 most frequent word bigrams under the
    total order (count DESC, phrase ASC).  Each phrase is then matched
    back THROUGH the positional index — token (doc_id, pos) postings
    for the first word joined to postings of the second word at
    pos + 1 — reporting per phrase the matching-doc count and total
    occurrences; the round trip (bigram counts == positional-join
    occurrence counts) is itself the correctness witness.

    Scale shape: bigram counting is one partial-aggregated groupBy
    (|bigram vocab| rows cross the exchange, not corpus positions) +
    TakeOrdered for the top-k; the match side filters the token stream
    by a BROADCAST 5-row phrase frame BEFORE the positional self-join,
    so the join touches only postings of the 10 queried words — the
    standard index-pruned phrase plan, never a corpus self-join."""
    d = _t(spark, sf_dir, "documents")
    ws = d.select("doc_id", F.split("text", " ").alias("ws"))
    bigrams = ws.select(
        "doc_id",
        F.explode(
            F.expr(
                "filter(transform(ws, (x, i) -> IF(i < size(ws) - 1 "
                "AND length(x) > 0 AND length(ws[i + 1]) > 0, "
                "concat(x, ' ', ws[i + 1]), NULL)), x -> x IS NOT NULL)"
            )
        ).alias("phrase"),
    )
    top = (
        bigrams.groupBy("phrase")
        .agg(F.count("*").alias("n_total"))
        .orderBy(F.desc("n_total"), F.asc("phrase"))
        .limit(5)
        .select(
            "phrase",
            F.split("phrase", " ").getItem(0).alias("w1"),
            F.split("phrase", " ").getItem(1).alias("w2"),
        )
    )
    toks = ws.select(
        "doc_id", F.posexplode("ws").alias("p", "term")
    ).filter(F.length("term") > 0)
    first = toks.join(
        F.broadcast(top), toks["term"] == top["w1"]
    ).select("doc_id", "p", "phrase", "w2")
    second = toks.select(
        "doc_id", (F.col("p") - 1).alias("p"), F.col("term").alias("t2")
    )
    hits = first.join(
        second,
        ["doc_id", "p"],
    ).filter(F.col("t2") == F.col("w2"))
    return (
        hits.groupBy("phrase")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occ"),
        )
        .orderBy("phrase")
    )


def _q_sitemap_parse(spark, sf_dir):
    """X77: XML sitemap parser — the discovery-side sibling of
    robots_parse (RFC-adjacent sitemaps.org protocol): a crawler learns
    a host's URL inventory from /sitemap.xml before it fetches anything.
    Parses <url> entries (loc, optional lastmod, optional priority,
    changefreq) out of per-host urlset bodies and rolls them up to the
    per-host facts a frontier scheduler consumes: URL count, how many
    carry lastmod, the freshest lastmod ('' when none does, never
    NULL), the priority mass, and the count of daily-changefreq
    entries.  Bodies are synthesized
    deterministically per host (entry count, dates, priorities all
    derived from the numeric host id) so the DuckDB twin parses the
    identical text; priorities are single-digit decimals aggregated as
    integer tenths (sum_prio10) to keep the compare float-free.

    Scale shape: synthesis/parse is a narrow per-host map (the protocol
    caps one sitemap file at 50k URLs / 50 MB, so the regexp walk is
    bounded by FILE size, never corpus size); the entry explode is
    followed by one partial-aggregated groupBy(host) — hot hosts
    collapse map-side, O(hosts) rows cross the exchange."""
    hosts = (
        _synth_urls(_t(spark, sf_dir, "documents"))
        .select("host", "hn")
        .distinct()
    )
    entry = (
        "concat('<url><loc>https://', host, '/page/', CAST(i AS STRING),"
        " '</loc>',"
        " IF(i % 2 = 0, concat('<lastmod>2024-01-',"
        "   lpad(CAST(10 + (hn + i) % 19 AS STRING), 2, '0'),"
        "   '</lastmod>'), ''),"
        " IF(i % 3 != 0, concat('<priority>0.', CAST(i % 10 AS STRING),"
        "   '</priority>'), ''),"
        " '<changefreq>',"
        " element_at(array('daily', 'weekly', 'monthly'), 1 + (hn + i) % 3),"
        " '</changefreq></url>')"
    )
    bodies = hosts.withColumn(
        "body",
        F.expr(
            "concat('<urlset>', "
            f"array_join(transform(sequence(1, 1 + hn % 5), i -> {entry}),"
            " ''), '</urlset>')"
        ),
    )
    fields = bodies.select(
        "host",
        F.explode(
            F.expr("regexp_extract_all(body, '<url>(.*?)</url>', 1)")
        ).alias("b"),
    ).select(
        "host",
        F.regexp_extract("b", "<lastmod>([^<]*)</lastmod>", 1).alias(
            "lastmod"
        ),
        F.regexp_extract("b", r"<priority>0\.(\d)</priority>", 1).alias(
            "prio"
        ),
        F.regexp_extract("b", "<changefreq>([^<]*)</changefreq>", 1).alias(
            "cf"
        ),
    )
    return (
        fields.groupBy("host")
        .agg(
            F.count("*").alias("n_urls"),
            F.sum((F.col("lastmod") != "").cast("bigint")).alias(
                "n_lastmod"
            ),
            F.coalesce(
                F.max(F.when(F.col("lastmod") != "", F.col("lastmod"))),
                F.lit(""),
            ).alias("last_mod"),
            F.sum(
                F.when(F.col("prio") != "", F.col("prio").cast("bigint"))
                .otherwise(F.lit(0))
            ).alias("sum_prio10"),
            F.sum((F.col("cf") == "daily").cast("bigint")).alias("n_daily"),
        )
        .orderBy("host")
    )


def _q_c4_filters(spark, sf_dir):
    """X78: C4 heuristic filters (Raffel et al. 2020 §2.2) — the
    published line+page rule set every public English corpus since T5
    starts from: keep only lines ending in terminal punctuation, drop
    lines under 5 words, drop lines containing the word "javascript",
    drop whole pages that contain "lorem ipsum" or a curly bracket,
    and drop pages left with fewer than 3 sentences.  (The paper's two
    remaining rules are not applied here: the bad-words page drop, and
    the three-sentence-span dedup, which is X26/X29
    `dup_spans`/`dedup_apply_spans`.)

    The fixture corpus is a flat word stream, so each document is
    first re-wrapped into lines of (5 + doc_id % 7) words with a
    deterministic punctuation cycle — (doc_id + i) % 4 selects
    ''/'.'/'!'/'?' — and garnished with the exact pathologies the
    rules exist for (a "lorem ipsum" line on doc_id % 41, a
    curly-brace config line on doc_id % 37, an "enable javascript"
    line on doc_id % 11), spelled identically by the SQL twin, so
    every rule fires non-vacuously at sf0.01.  The residual page is
    witnessed by md5 over the '\\n'-rejoined kept lines — byte-equal
    reconstruction, not just counts.

    Scale shape: one narrow projection — split + transform + filter
    are JVM higher-order functions fused into the scan, zero shuffles
    before the presentation sort; at 10^12 docs this is a pure map
    stage (the reference's cleaning chain runs the same way inside
    the extraction kernel: `clean_result`, ref stage2_ocr.py:184-251)."""
    d = _t(spark, sf_dir, "documents")
    body = (
        "transform(sequence(0, cast(floor((size(split(text, ' ')) - 1)"
        " / (5 + doc_id % 7)) as int)),"
        " i -> concat(array_join(slice(split(text, ' '),"
        " i * cast(5 + doc_id % 7 as int) + 1,"
        " cast(5 + doc_id % 7 as int)), ' '),"
        " element_at(array('', '.', '!', '?'),"
        " cast((doc_id + i) % 4 as int) + 1)))"
    )
    garnish = (
        "concat("
        " IF(doc_id % 41 = 0,"
        "    array('lorem ipsum dolor sit amet consectetur.'), array()),"
        " IF(doc_id % 37 = 0,"
        "    array('var config = { privacy: true };'), array()),"
        " IF(doc_id % 11 = 0,"
        "    array('please enable javascript to continue viewing.'),"
        "    array()),"
        f" {body})"
    )
    lined = d.select("doc_id", F.expr(garnish).alias("lines"))
    kept_expr = (
        "filter(lines, l -> l rlike '[.!?\"]$'"
        " AND size(split(l, ' ')) >= 5"
        " AND NOT contains(lower(l), 'javascript'))"
    )
    per_doc = lined.select(
        "doc_id",
        F.size("lines").alias("n_lines"),
        F.expr(kept_expr).alias("kept"),
        F.expr(
            "exists(lines, l -> contains(lower(l), 'lorem ipsum'))"
        ).alias("has_lorem"),
        F.expr("exists(lines, l -> contains(l, '{'))").alias("has_brace"),
    ).select(
        "doc_id",
        "n_lines",
        F.size("kept").alias("n_kept_lines"),
        F.concat_ws("\n", "kept").alias("kept_text"),
        "has_lorem",
        "has_brace",
    )
    return per_doc.select(
        "doc_id",
        "n_lines",
        "n_kept_lines",
        F.expr("size(regexp_extract_all(kept_text, '[.!?]', 0))")
        .cast("bigint")
        .alias("n_sentences"),
        "has_lorem",
        "has_brace",
        (
            (F.expr("size(regexp_extract_all(kept_text, '[.!?]', 0))") >= 3)
            & ~F.col("has_lorem")
            & ~F.col("has_brace")
        ).alias("keep"),
        F.md5(F.encode("kept_text", "UTF-8")).alias("kept_md5"),
    ).orderBy("doc_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Window contract: the correctness harness evaluates the first 50
    # entries, and these are all of them, each with an oracle_sql()
    # entry.  tests/test_entry_contract.py runs the same compare on
    # every query and pins the window (test_driver_window_allocation).
    return {
        # pinned: extraction family
        "extract_documents": _q_extract_documents,
        "assemble_documents": _q_assemble_documents,
        "extract_pdf_documents": _q_extract_pdf_documents,
        "pdf_page_explode": _q_pdf_page_explode,
        "pdf_layout_markdown": _q_pdf_layout_markdown,
        # extraction family, first driver evaluation this round
        "page_metadata": _q_page_metadata,
        "extract_fidelity": _q_extract_fidelity,
        "text_normalize": _q_text_normalize,
        # pinned: plans changed in round 5 (two-phase gram counting,
        # single-pass DSIR) — must re-verify under the driver
        "dup_spans": _q_dup_spans,
        "dedup_apply_spans": _q_dedup_apply_spans,
        "dsir_weights": _q_dsir_weights,
        # pinned: near-dup flagships
        "minhash_dup_pairs": _q_minhash_dup_pairs,
        "near_dup_verified": _q_near_dup_verified,
        # first driver evaluation: round-5 embedding/recall/link family
        "doc_embeddings": _q_doc_embeddings,
        "doc_embed_knn": _q_doc_embed_knn,
        "ann_lsh_recall": _q_ann_lsh_recall,
        "ann_ivf_recall": _q_ann_ivf_recall,
        "embedding_near_dup_lsh_recall": _q_embedding_near_dup_lsh_recall,
        "pagerank_step": _q_pagerank_step,
        # first driver evaluation: search/link/tokenizer queries
        "hybrid_search": _q_hybrid_search,
        "anchor_texts": _q_anchor_texts,
        "robots_filter": _q_robots_filter,
        "bpe_pair_counts": _q_bpe_pair_counts,
        "bpe_merges": _q_bpe_merges,
        # first driver evaluation: round-5 curation/sketch/graph/etc.
        "fuzzy_decontamination": _q_fuzzy_decontamination,
        "wet_export": _q_wet_export,
        "dedup_soft_weights": _q_dedup_soft_weights,
        "url_canonical_dedup": _q_url_canonical_dedup,
        "host_url_hll": _q_host_url_hll,
        "heavy_hitters_cms": _q_heavy_hitters_cms,
        "containment_pairs": _q_containment_pairs,
        "cdx_index": _q_cdx_index,
        "corpus_curation": _q_corpus_curation,
        "frontier_schedule": _q_frontier_schedule,
        "doc_embed_semdedup": _q_doc_embed_semdedup,
        "gopher_rules": _q_gopher_rules,
        "seq_len_buckets": _q_seq_len_buckets,
        "bloom_dedup_probe": _q_bloom_dedup_probe,
        "link_spam": _q_link_spam,
        "hits_step": _q_hits_step,
        "robots_parse": _q_robots_parse,
        "embedding_outliers": _q_embedding_outliers,
        # newest round-5 operators, never driver-rowed before
        "mojibake_repair": _q_mojibake_repair,
        "host_template_lines": _q_host_template_lines,
        "phrase_search": _q_phrase_search,
        "sitemap_parse": _q_sitemap_parse,
        # swapped in for the retired relational-shell queries
        "c4_filters": _q_c4_filters,
        "warc_records": _q_warc_records,
        "line_dedup": _q_line_dedup,
        "classifier_scores": _q_classifier_scores,
    }


def oracle_sql() -> dict[str, str]:
    return {
        # Recall-assertion oracles for the approximate ANN paths: the
        # Spark side computes exact-vs-approx agreement; the SQL side
        # asserts the calibrated full-recall constant (ann_*_recall) or
        # re-derives the exact pair count (near_dup_lsh_recall).  A
        # signature/bucketing/probe regression breaks the row hash.
        "ann_lsh_recall": """
            SELECT CAST(10 AS INT) AS k, CAST(10 AS INT) AS n_hits
        """,
        "ann_ivf_recall": """
            SELECT CAST(10 AS INT) AS k, CAST(10 AS INT) AS n_hits
        """,
        "embedding_near_dup_lsh_recall": """
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
        """,
        "doc_embeddings": f"""
            SELECT doc_id, emb_md5
            FROM read_parquet('{_WITNESS_DIR}/doc_embeddings.parquet')
            ORDER BY doc_id
        """,
        "doc_embed_knn": f"""
            WITH w AS (
                SELECT doc_id, CAST(embedding AS DOUBLE[]) AS v
                FROM read_parquet('{_WITNESS_DIR}/doc_embeddings.parquet')
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
        """,
        "pagerank_step": f"""
            WITH e AS (
                SELECT src_host AS src, dst_host AS dst,
                       CAST(n_links AS BIGINT) AS w
                FROM read_parquet('{_WITNESS_DIR}/host_link_graph.parquet')
            ), nodes AS (
                SELECT src AS host FROM e UNION SELECT dst FROM e
            ), outw AS (
                SELECT src, sum(w) AS ow FROM e GROUP BY src
            ), scal AS (
                SELECT (SELECT count(*) FROM nodes) AS n,
                       (SELECT count(*) FROM nodes
                        WHERE host NOT IN (SELECT src FROM e)) AS nd
            ), inflow AS (
                SELECT e.dst AS host,
                       sum((e.w * 1000000000000) // outw.ow) AS qq
                FROM e JOIN outw USING (src) GROUP BY e.dst
            )
            SELECT nodes.host,
                   CAST(150000000000 + (85 * (coalesce(inflow.qq, 0)
                        + (scal.nd * 1000000000000) // scal.n)) // 100
                        AS BIGINT) AS rank_q
            FROM nodes LEFT JOIN inflow USING (host), scal
            ORDER BY nodes.host
        """,
        "dedup_soft_weights": """
            WITH RECURSIVE grams AS (
                SELECT doc_id, source,
                       list(DISTINCT substring(text, i, 3)) AS gs
                FROM (SELECT doc_id, source, text,
                             unnest(generate_series(
                                 1, greatest(length(text) - 2, 1))) AS i
                      FROM documents)
                GROUP BY doc_id, source
            ), pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM grams a JOIN grams b
                  ON a.source = b.source AND a.doc_id < b.doc_id
                WHERE 5 * len(list_intersect(a.gs, b.gs))
                      >= 3 * (len(a.gs) + len(b.gs)
                              - len(list_intersect(a.gs, b.gs)))
            ), e AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION
                SELECT id_b AS src, id_a AS dst FROM pairs
            ), reach(id, r) AS (
                SELECT src, src FROM e
                UNION
                SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id
            ), comp AS (
                SELECT id, min(r) AS comp FROM reach GROUP BY id
            ), sizes AS (
                SELECT comp, count(*) AS cluster_size
                FROM comp GROUP BY comp
            )
            SELECT d.doc_id,
                   CAST(coalesce(s.cluster_size, 1) AS BIGINT)
                       AS cluster_size,
                   CAST(1 AS DOUBLE)
                       / CAST(coalesce(s.cluster_size, 1) AS DOUBLE)
                       AS weight
            FROM documents d
            LEFT JOIN comp c ON c.id = d.doc_id
            LEFT JOIN sizes s ON s.comp = c.comp
            ORDER BY d.doc_id
        """,
        "dup_spans": """
            WITH ws AS (
                SELECT doc_id, string_split(text, ' ') AS ws FROM documents
            ), grams AS (
                SELECT doc_id, i AS pos,
                       md5(array_to_string(ws[i:i+7], ' ')) AS g
                FROM ws, LATERAL unnest(generate_series(1, len(ws) - 7)) AS t(i)
                WHERE len(ws) >= 8
            ), counted AS (
                SELECT doc_id, pos,
                       count(*) OVER (PARTITION BY g) AS cnt
                FROM grams
            ), hits AS (
                SELECT doc_id, pos FROM counted WHERE cnt >= 2
            ), islands AS (
                SELECT doc_id, pos,
                       CASE WHEN pos <= coalesce(max(pos + 7) OVER (
                                PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), -1) + 1
                            THEN 0 ELSE 1 END AS new_island
                FROM hits
            ), numbered AS (
                SELECT doc_id, pos,
                       sum(new_island) OVER (
                           PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS island
                FROM islands
            )
            SELECT doc_id,
                   CAST(min(pos) AS INT) AS span_start,
                   CAST(max(pos) + 7 AS INT) AS span_end,
                   CAST(count(*) AS INT) AS n_grams
            FROM numbered GROUP BY doc_id, island
            ORDER BY doc_id, span_start
        """,
        "dedup_apply_spans": """
            WITH ws AS (
                SELECT doc_id, string_split(text, ' ') AS ws FROM documents
            ), grams AS (
                SELECT doc_id, i AS pos,
                       md5(array_to_string(ws[i:i+7], ' ')) AS g
                FROM ws, LATERAL unnest(generate_series(1, len(ws) - 7)) AS t(i)
                WHERE len(ws) >= 8
            ), counted AS (
                SELECT doc_id, pos,
                       count(*) OVER (PARTITION BY g) AS cnt
                FROM grams
            ), hits AS (
                SELECT doc_id, pos FROM counted WHERE cnt >= 2
            ), islands AS (
                SELECT doc_id, pos,
                       CASE WHEN pos <= coalesce(max(pos + 7) OVER (
                                PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), -1) + 1
                            THEN 0 ELSE 1 END AS new_island
                FROM hits
            ), numbered AS (
                SELECT doc_id, pos,
                       sum(new_island) OVER (
                           PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS island
                FROM islands
            ), spans AS (
                SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
                FROM numbered GROUP BY doc_id, island
            ), words AS (
                SELECT doc_id, i AS pos, ws[i] AS word, len(ws) AS n_words
                FROM ws, LATERAL unnest(generate_series(1, len(ws))) AS t(i)
            ), flagged AS (
                SELECT wd.*,
                       NOT EXISTS (SELECT 1 FROM spans s
                                   WHERE s.doc_id = wd.doc_id
                                     AND wd.pos BETWEEN s.s AND s.e) AS keep
                FROM words wd
            )
            SELECT doc_id,
                   CAST(max(n_words) AS INT) AS n_words,
                   CAST(max(n_words)
                        - count(CASE WHEN keep THEN 1 END) AS INT) AS n_removed,
                   md5(coalesce(string_agg(CASE WHEN keep THEN word END,
                                           ' ' ORDER BY pos), '')) AS new_md5
            FROM flagged GROUP BY doc_id ORDER BY doc_id
        """,
        # Golden-witness oracles: the byte-deterministic extraction
        # family is checked against single-process kernel-loop fixtures
        # (scripts/gen_witness.py; tests/test_witness.py pins freshness,
        # tests/test_spark_job.py proves distributed == single-process),
        # so the driver's hash compare covers the full extraction output
        # even though the computation is not SQL-expressible.
        "extract_documents": f"""
            SELECT url, page_type, method, markdown, n_chars
            FROM read_parquet('{_WITNESS_DIR}/extract_documents.parquet')
            ORDER BY url
        """,
        "page_metadata": f"""
            SELECT url, title, description, canonical, og_title, ld_type
            FROM read_parquet('{_WITNESS_DIR}/page_metadata.parquet')
            ORDER BY url
        """,
        # extract_fidelity: SQL-expressible end-to-end — DuckDB
        # recomputes the token-multiset P/R/F1 from the witness
        # markdown (independent single-process kernel loop) joined to
        # the documents text; the ratios are IEEE divisions of exact
        # integer counts on both sides, so no rounding is needed.
        "extract_fidelity": f"""
            WITH w AS (
                SELECT url, markdown
                FROM read_parquet('{_WITNESS_DIR}/extract_documents.parquet')
            ), urls AS (
                SELECT 'https://' || source || '.example.com/docs/'
                       || CAST(doc_id AS VARCHAR) AS url, text
                FROM documents
            ), ext AS (
                SELECT url, tok, count(*) AS cnt_e FROM (
                    SELECT url, unnest(string_split(lower(
                        regexp_replace(markdown, '[^a-zA-Z0-9]+', ' ', 'g')
                    ), ' ')) AS tok FROM w
                ) WHERE tok <> '' GROUP BY url, tok
            ), src AS (
                SELECT url, tok, count(*) AS cnt_s FROM (
                    SELECT url, unnest(string_split(lower(
                        regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')
                    ), ' ')) AS tok FROM urls
                ) WHERE tok <> '' GROUP BY url, tok
            ), com AS (
                SELECT e.url, sum(least(cnt_e, cnt_s)) AS n_common
                FROM ext e JOIN src s ON e.url = s.url AND e.tok = s.tok
                GROUP BY e.url
            ), ne AS (SELECT url, sum(cnt_e) AS n_ext FROM ext GROUP BY url),
            ns AS (SELECT url, sum(cnt_s) AS n_src FROM src GROUP BY url),
            j AS (
                SELECT u.url,
                       CAST(coalesce(ns.n_src, 0) AS BIGINT) AS n_src,
                       CAST(coalesce(ne.n_ext, 0) AS BIGINT) AS n_ext,
                       CAST(coalesce(com.n_common, 0) AS BIGINT) AS n_common
                FROM (SELECT url FROM urls) u
                LEFT JOIN ns USING (url)
                LEFT JOIN ne USING (url)
                LEFT JOIN com USING (url)
            ), pr AS (
                SELECT url, n_src, n_ext, n_common,
                       CASE WHEN n_ext > 0 THEN n_common / n_ext
                            ELSE 0.0 END AS precision,
                       CASE WHEN n_src > 0 THEN n_common / n_src
                            ELSE 0.0 END AS recall
                FROM j
            )
            SELECT url, n_src, n_ext, n_common, precision, recall,
                   CASE WHEN precision + recall > 0
                        THEN 2.0 * precision * recall / (precision + recall)
                        ELSE 0.0 END AS f1
            FROM pr ORDER BY url
        """,
        # text_normalize: the strongest oracle shape available — two
        # INDEPENDENT Unicode implementations (Python unicodedata in
        # the Arrow kernel, utf8proc inside DuckDB's nfc_normalize)
        # must agree on every md5.  Injection literals mirror the
        # Spark expressions codepoint-for-codepoint (chr(769) =
        # U+0301 combining acute, chr(776) = U+0308 combining
        # diaeresis, chr(7)/chr(31) = C0 controls).
        "text_normalize": r"""
            WITH inj AS (
                SELECT doc_id,
                       CASE
                         WHEN doc_id % 3 = 0 THEN 'Cafe' || chr(769) || ' '
                              || text || ' stru' || chr(776) || 'del'
                         WHEN doc_id % 3 = 1 THEN chr(7) || 'bell'
                              || chr(31) || ' ' || text
                         ELSE text
                       END AS t
                FROM documents
            ), norm AS (
                SELECT doc_id, t,
                       regexp_replace(nfc_normalize(t),
                           '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g') AS n
                FROM inj
            )
            SELECT doc_id, md5(n) AS norm_md5,
                   CAST(length(t) AS BIGINT) AS n_before,
                   CAST(length(n) AS BIGINT) AS n_after
            FROM norm ORDER BY doc_id
        """,
        "assemble_documents": f"""
            SELECT doc_key, n_pages, n_figures, n_chars
            FROM read_parquet('{_WITNESS_DIR}/assemble_documents.parquet')
            ORDER BY doc_key
        """,
        "extract_pdf_documents": f"""
            SELECT doc_key, n_pages, n_chars
            FROM read_parquet('{_WITNESS_DIR}/extract_pdf_documents.parquet')
            ORDER BY doc_key
        """,
        "pdf_page_explode": f"""
            SELECT url, page_num, n_bytes, text
            FROM read_parquet('{_WITNESS_DIR}/pdf_page_explode.parquet')
            ORDER BY url, page_num
        """,
        "minhash_dup_pairs": f"""
            SELECT id_a, id_b
            FROM read_parquet('{_WITNESS_DIR}/minhash_dup_pairs.parquet')
            ORDER BY id_a, id_b
        """,
        "near_dup_verified": f"""
            SELECT id_a, id_b, jaccard
            FROM read_parquet('{_WITNESS_DIR}/near_dup_verified.parquet')
            ORDER BY id_a, id_b
        """,
        "fuzzy_decontamination": f"""
            SELECT doc_id, ref_id, jaccard
            FROM read_parquet('{_WITNESS_DIR}/fuzzy_decontamination.parquet')
            ORDER BY doc_id, ref_id
        """,
        "wet_export": f"""
            SELECT shard, n_records, n_bytes, wet_md5
            FROM read_parquet('{_WITNESS_DIR}/wet_export.parquet')
            ORDER BY shard
        """,
        "anchor_texts": f"""
            SELECT dst_url, n_refs, n_src_hosts, top_anchor, top_anchor_n
            FROM read_parquet('{_WITNESS_DIR}/anchor_texts.parquet')
            ORDER BY dst_url
        """,
        "pdf_layout_markdown": f"""
            SELECT url, markdown_md5, n_chars
            FROM read_parquet('{_WITNESS_DIR}/pdf_layout_markdown.parquet')
            ORDER BY url
        """,
        "robots_filter": """
            WITH urls AS (
                SELECT 'https://' || source || '.example.com/docs/'
                       || doc_id AS url,
                       source || '.example.com' AS host,
                       '/docs/' || doc_id AS path
                FROM documents
            ), hosts AS (
                SELECT DISTINCT host,
                       CAST(regexp_extract(host, 'src(\\d+)', 1) AS INTEGER)
                           AS hn
                FROM urls
            ), rules AS (
                SELECT host, '/' AS prefix, TRUE AS allow FROM hosts
                UNION ALL
                SELECT host, '/docs/', FALSE FROM hosts WHERE hn % 3 = 0
                UNION ALL
                SELECT host, '/docs/1', TRUE FROM hosts WHERE hn % 6 = 0
            ), matched AS (
                SELECT urls.url, urls.host, rules.prefix, rules.allow,
                       row_number() OVER (
                           PARTITION BY urls.url
                           ORDER BY length(rules.prefix) DESC,
                                    rules.allow DESC
                       ) AS rk
                FROM urls JOIN rules ON urls.host = rules.host
                WHERE substr(urls.path, 1, length(rules.prefix))
                      = rules.prefix
            )
            SELECT url, host, prefix AS rule_prefix, allow AS allowed
            FROM matched WHERE rk = 1
            ORDER BY url
        """,
        "hybrid_search": _hybrid_oracle_sql(),
        "bpe_pair_counts": """
            WITH words AS (
                SELECT w, count(*) AS wc FROM (
                    SELECT unnest(string_split(text, ' ')) AS w
                    FROM documents
                ) WHERE length(w) > 0 GROUP BY w
            ), pairs AS (
                SELECT substr(w, CAST(i AS INT), 2) AS pair, wc
                FROM words,
                     LATERAL unnest(generate_series(1, length(w) - 1))
                         AS t(i)
                WHERE length(w) >= 2
            )
            SELECT pair, CAST(sum(wc) AS BIGINT) AS n
            FROM pairs GROUP BY pair
            ORDER BY n DESC, pair LIMIT 200
        """,
        "bpe_merges": f"""
            SELECT rank, lhs, rhs
            FROM read_parquet('{_WITNESS_DIR}/bpe_merges.parquet')
            ORDER BY rank
        """,
        "doc_embed_semdedup": f"""
            SELECT doc_id, cell, cent_sim, keep
            FROM read_parquet('{_WITNESS_DIR}/doc_embed_semdedup.parquet')
            ORDER BY doc_id
        """,
        "warc_records": f"""
            SELECT url, warc_date, rec_type, http_status, html_md5,
                   n_html_bytes, n_rec_bytes
            FROM read_parquet('{_WITNESS_DIR}/warc_records.parquet')
            ORDER BY url
        """,
        "dsir_weights": """
            WITH ws AS (
                SELECT doc_id, lang, string_split(text, ' ') AS ws
                FROM documents
            ), grams AS (
                SELECT doc_id, lang, unnest(ws) AS g FROM ws
                UNION ALL
                SELECT doc_id, lang, ws[i] || ' ' || ws[i + 1] AS g
                FROM ws, LATERAL unnest(generate_series(1, len(ws) - 1))
                          AS t(i)
                WHERE len(ws) >= 2
            ), feats AS (
                SELECT doc_id, lang,
                       ((strpos('0123456789abcdef', substr(md5(g), 1, 1))
                         - 1) * 256
                      + (strpos('0123456789abcdef', substr(md5(g), 2, 1))
                         - 1) * 16
                      + (strpos('0123456789abcdef', substr(md5(g), 3, 1))
                         - 1)) % 1024 AS b
                FROM grams
            ), stats AS (
                SELECT b, count(*) AS c_raw,
                       count(CASE WHEN lang = 'en' THEN 1 END) AS c_tgt
                FROM feats GROUP BY b
            ), weighted AS (
                SELECT feats.doc_id,
                       CAST(sum((length(bin(c_tgt + 1)) - 1)
                              - (length(bin(c_raw + 1)) - 1))
                            AS BIGINT) AS llr_sum,
                       count(*) AS n_feats
                FROM feats JOIN stats USING (b)
                GROUP BY feats.doc_id
            ), tot AS (
                SELECT CAST(sum(llr_sum) AS BIGINT) AS tot_llr,
                       CAST(sum(n_feats) AS BIGINT) AS tot_feats
                FROM weighted
            )
            SELECT d.doc_id,
                   coalesce(w.llr_sum, 0) AS llr_sum,
                   coalesce(w.n_feats, 0) AS n_feats,
                   CASE WHEN w.n_feats > 0
                        THEN w.llr_sum / w.n_feats END AS avg_llr,
                   coalesce(w.llr_sum, 0) * tot.tot_feats
                       > tot.tot_llr * coalesce(w.n_feats, 0) AS keep
            FROM documents d
            LEFT JOIN weighted w ON d.doc_id = w.doc_id
            CROSS JOIN tot
            ORDER BY d.doc_id
        """,
        "cdx_index": """
            WITH d AS (
                SELECT doc_id, text,
                       source || '.example.com' AS host,
                       '/docs/' || doc_id AS path,
                       CASE WHEN doc_id % 3 = 0 THEN 'b=2&a=1'
                            WHEN doc_id % 3 = 1 THEN 'z=9'
                            ELSE NULL END AS rawq
                FROM documents
            )
            SELECT array_to_string(
                       list_reverse(string_split(host, '.')), ',')
                   || ')' || path
                   || coalesce('?' || array_to_string(
                          list_sort(string_split(rawq, '&')), '&'), '')
                       AS surt_key,
                   20260200000000 + doc_id AS ts,
                   'https://' || host || path
                   || coalesce('?' || rawq, '') AS url,
                   md5(text) AS digest
            FROM d
            ORDER BY surt_key, ts
        """,
        "url_canonical_dedup": r"""
            WITH raw AS (
                SELECT doc_id, 20260300000000 + doc_id AS ts,
                       CASE CAST(doc_id % 6 AS INT)
                         WHEN 0 THEN 'https://' || source
                              || '.example.com/page/'
                              || CAST(doc_id % 50 AS VARCHAR)
                         WHEN 1 THEN 'HTTPS://' || upper(source)
                              || '.EXAMPLE.COM:443/page/'
                              || CAST(doc_id % 50 AS VARCHAR)
                         WHEN 2 THEN 'https://' || source
                              || '.example.com/page/'
                              || CAST(doc_id % 50 AS VARCHAR)
                              || '?utm_source=x&utm_campaign=y'
                         WHEN 3 THEN 'https://' || source
                              || '.example.com/page/'
                              || CAST(doc_id % 50 AS VARCHAR)
                              || '#section-2'
                         WHEN 4 THEN 'https://' || source
                              || '.example.com/page/'
                              || CAST(doc_id % 50 AS VARCHAR)
                              || '?b=2&a=1'
                         ELSE 'https://' || source
                              || '.example.com/page/'
                              || CAST(doc_id % 50 AS VARCHAR)
                              || '?a=1&fbclid=zzz&b=2'
                       END AS url
                FROM documents
            ), comp AS (
                SELECT doc_id, ts,
                       lower(regexp_extract(split_part(url, '#', 1),
                                            '^([^:]+)://', 1)) AS scheme,
                       regexp_replace(split_part(url, '#', 1),
                                      '^[^:]+://', '') AS rest
                FROM raw
            ), hp AS (
                SELECT *,
                       regexp_extract(rest, '^([^/]+)', 1) AS hostport,
                       substr(rest,
                              length(regexp_extract(rest, '^([^/]+)', 1))
                              + 1) AS pathquery
                FROM comp
            ), pq AS (
                SELECT *,
                       regexp_replace(lower(hostport), ':(443|80)$', '')
                           AS host,
                       CASE WHEN contains(pathquery, '?')
                            THEN regexp_replace(pathquery, '^[^?]*\?', '')
                            ELSE NULL END AS query
                FROM hp
            ), canon AS (
                SELECT doc_id, ts,
                       scheme || '://' || host
                       || (CASE WHEN pathquery = '' THEN '/'
                                ELSE split_part(pathquery, '?', 1) END)
                       || (CASE WHEN cq IS NULL OR cq = '' THEN ''
                                ELSE '?' || cq END) AS canon_url
                FROM (SELECT *,
                             array_to_string(list_sort(list_filter(
                                 str_split(query, '&'),
                                 x -> NOT regexp_matches(x,
                                     '^(utm_[^=]*|fbclid|gclid)='))),
                                 '&') AS cq
                      FROM pq)
            )
            SELECT canon_url, count(*) AS n_captures,
                   max(ts) AS latest_ts,
                   arg_max(doc_id, ts) AS latest_doc_id
            FROM canon
            GROUP BY canon_url
            ORDER BY canon_url
        """,
        "host_url_hll": """
            WITH caps AS (
                SELECT source || '.example.com' AS host,
                       'https://' || source || '.example.com/docs/'
                           || CAST(doc_id % 200 AS VARCHAR) AS url
                FROM documents
            ), h AS (
                SELECT host, url,
                       ('0x' || substr(md5(url), 1, 15))::BIGINT AS hv
                FROM caps
            ), r AS (
                SELECT host, CAST(hv % 64 AS INT) AS reg,
                       CAST(CASE WHEN (hv >> 6) > 0
                                 THEN 55 - length(bin(hv >> 6))
                                 ELSE 55 END AS INT) AS rho
                FROM h
            ), regs AS (
                SELECT host, reg, max(rho) AS mreg
                FROM r GROUP BY host, reg
            ), ph AS (
                SELECT host,
                       sum(1::BIGINT << (55 - mreg)) AS ssum,
                       count(*) AS nhit
                FROM regs GROUP BY host
            ), ex AS (
                SELECT host, count(DISTINCT url) AS exact_distinct
                FROM caps GROUP BY host
            )
            SELECT ph.host, ex.exact_distinct,
                   (CAST(0.709 AS DOUBLE) * 64 * 64
                    * CAST(1::BIGINT << 55 AS DOUBLE))
                   / CAST(ssum + (64 - nhit) * (1::BIGINT << 55)
                          AS DOUBLE) AS hll_estimate,
                   abs((CAST(0.709 AS DOUBLE) * 64 * 64
                        * CAST(1::BIGINT << 55 AS DOUBLE))
                       / CAST(ssum + (64 - nhit) * (1::BIGINT << 55)
                              AS DOUBLE)
                       - CAST(exact_distinct AS DOUBLE))
                   / CAST(exact_distinct AS DOUBLE) AS rel_err
            FROM ph JOIN ex ON ph.host = ex.host
            ORDER BY ph.host
        """,
        "heavy_hitters_cms": """
            WITH toks AS (
                SELECT unnest(string_split(text, ' ')) AS term
                FROM documents
            ), t AS (
                SELECT term FROM toks WHERE term <> ''
            ), counts AS (
                SELECT term, count(*) AS true_count FROM t GROUP BY term
            ), tb AS (
                SELECT term, true_count, j,
                       ('0x' || substr(md5(CAST(j AS VARCHAR) || ':'
                                           || term), 1, 2))::BIGINT
                           AS bucket
                FROM counts,
                     (SELECT unnest(generate_series(0, 3)) AS j)
            ), sketch AS (
                SELECT j, bucket,
                       CAST(sum(true_count) AS BIGINT) AS cell
                FROM tb GROUP BY j, bucket
            ), est AS (
                SELECT term, true_count, min(cell) AS est_count
                FROM tb JOIN sketch USING (j, bucket)
                GROUP BY term, true_count
            ), total AS (
                SELECT CAST(sum(true_count) AS BIGINT) AS total
                FROM counts
            )
            SELECT term, true_count, est_count,
                   est_count - true_count AS overcount
            FROM est, total
            WHERE est_count * 200 >= total
            ORDER BY term
        """,
        "containment_pairs": """
            WITH corpus AS (
                SELECT doc_id, source, text FROM documents
                UNION ALL
                SELECT doc_id + 10000000 AS doc_id, source,
                       substring(text, 1, 200) AS text
                FROM documents
                WHERE n_chars >= 400 AND doc_id % 5 = 0
            ), grams AS (
                SELECT doc_id, source,
                       list(DISTINCT substring(text, i, 3)) AS gs
                FROM (SELECT doc_id, source, text,
                             unnest(generate_series(
                                 1, greatest(length(text) - 2, 1))) AS i
                      FROM corpus)
                GROUP BY doc_id, source
            ), pairs AS (
                SELECT a.doc_id AS ida, b.doc_id AS idb,
                       len(list_intersect(a.gs, b.gs)) AS n_inter,
                       len(a.gs) AS sa, len(b.gs) AS sb
                FROM grams a JOIN grams b
                  ON a.source = b.source AND a.doc_id < b.doc_id
            ), roles AS (
                SELECT CASE WHEN sa <= sb THEN ida ELSE idb END
                           AS id_contained,
                       CASE WHEN sa <= sb THEN idb ELSE ida END
                           AS id_container,
                       n_inter,
                       CASE WHEN sa <= sb THEN sa ELSE sb END AS n_small,
                       CASE WHEN sa <= sb THEN sb ELSE sa END AS n_big
                FROM pairs
            )
            SELECT id_contained, id_container, n_inter, n_small, n_big
            FROM roles
            WHERE 10 * n_inter >= 9 * n_small
            ORDER BY id_contained, id_container
        """,
        "frontier_schedule": """
            WITH u AS (
                SELECT 'https://' || source || '.example.com/docs/'
                       || doc_id AS url,
                       source || '.example.com' AS host,
                       CAST(regexp_extract(source, 'src(\\d+)', 1)
                            AS INT) AS hn
                FROM documents
            )
            SELECT url, host,
                   CAST(((strpos('0123456789abcdef',
                                 substr(md5(host), 1, 1)) - 1) * 16
                       + (strpos('0123456789abcdef',
                                 substr(md5(host), 2, 1)) - 1)) % 8
                        AS INT) AS fetch_shard,
                   CAST((row_number() OVER (
                            PARTITION BY host
                            ORDER BY md5(url), url
                        ) - 1)
                        * (CASE WHEN hn % 2 = 0 THEN 5 ELSE 2 END)
                        AS BIGINT) AS dispatch_at_s
            FROM u
            ORDER BY host, dispatch_at_s, url
        """,
        "corpus_curation": """
            WITH kept AS (
                SELECT min(doc_id) AS doc_id,
                       arg_min(lang, doc_id) AS lang
                FROM documents
                WHERE n_chars >= 120
                GROUP BY md5(text)
            ), ranked AS (
                SELECT lang, doc_id,
                       CAST(row_number() OVER (
                           PARTITION BY lang
                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                       ) AS INT) AS pick_rank
                FROM kept
            )
            SELECT lang, pick_rank, doc_id
            FROM ranked
            WHERE pick_rank <= 40
            ORDER BY lang, pick_rank
        """,
        "gopher_rules": """
            WITH base AS (
                SELECT doc_id,
                       string_split(text, ' ') AS ws,
                       length(text) - length(replace(text, '#', ''))
                           AS n_hash,
                       length(text) - length(replace(text, '...', ''))
                           AS ell_diff,
                       length(text) - length(replace(text, ' ', ''))
                           AS n_spaces,
                       length(text) AS n_chars
                FROM documents
            ), m AS (
                SELECT doc_id,
                       len(ws) AS n_words,
                       n_chars - n_spaces AS sum_wlen,
                       len(list_filter(ws,
                           w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
                       len(list_intersect(list_distinct(ws),
                           ['and', 'be', 'have', 'of', 'that', 'the',
                            'to', 'with'])) AS n_stops,
                       n_hash, ell_diff
                FROM base
            )
            SELECT doc_id,
                   CAST(n_words AS INT) AS n_words,
                   (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
                   (3 * n_words <= sum_wlen AND sum_wlen <= 10 * n_words)
                       AS ok_mean_wlen,
                   (5 * n_alpha >= 4 * n_words) AS ok_alpha_words,
                   (n_stops >= 2) AS ok_stop_words,
                   (10 * n_hash <= n_words
                    AND 10 * ell_diff <= 3 * n_words) AS ok_symbols,
                   (n_words >= 50 AND n_words <= 100000
                    AND 3 * n_words <= sum_wlen
                    AND sum_wlen <= 10 * n_words
                    AND 5 * n_alpha >= 4 * n_words
                    AND n_stops >= 2
                    AND 10 * n_hash <= n_words
                    AND 10 * ell_diff <= 3 * n_words) AS keep
            FROM m
            ORDER BY doc_id
        """,
        "seq_len_buckets": """
            WITH t AS (
                SELECT len(string_split(text, ' ')) AS n_tokens
                FROM documents
            )
            SELECT CAST(1::BIGINT
                        << (length(bin(greatest(n_tokens, 1))) - 1)
                        AS BIGINT) AS bucket_lo,
                   count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                   CAST(min(n_tokens) AS INT) AS min_tokens,
                   CAST(max(n_tokens) AS INT) AS max_tokens
            FROM t
            GROUP BY bucket_lo
            ORDER BY bucket_lo
        """,
        "bloom_dedup_probe": """
            WITH keyed AS (
                SELECT doc_id, md5(text) AS key FROM documents
            ), build AS (
                SELECT DISTINCT key FROM keyed WHERE doc_id % 10 != 9
            ), probe AS (
                SELECT doc_id, key FROM keyed
                WHERE doc_id % 10 IN (4, 9)
            ), js AS (
                SELECT unnest(generate_series(0, 3)) AS j
            ), bits AS (
                SELECT DISTINCT j,
                       ('0x' || substr(md5(CAST(j AS VARCHAR) || ':'
                                           || key), 1, 4))::BIGINT AS pos,
                       1 AS hit
                FROM build, js
            ), probed AS (
                SELECT p.doc_id, p.key, js.j,
                       ('0x' || substr(md5(CAST(js.j AS VARCHAR) || ':'
                                           || p.key), 1, 4))::BIGINT AS pos
                FROM probe p, js
            ), hits AS (
                SELECT doc_id, key,
                       sum(CASE WHEN bits.hit IS NOT NULL
                                THEN 1 ELSE 0 END) AS n_hits
                FROM probed
                LEFT JOIN bits ON probed.j = bits.j
                             AND probed.pos = bits.pos
                GROUP BY doc_id, key
            )
            SELECT h.doc_id,
                   (n_hits = 4) AS bloom_maybe,
                   (b.key IS NOT NULL) AS present,
                   (n_hits = 4 AND b.key IS NULL) AS false_positive
            FROM hits h LEFT JOIN build b ON h.key = b.key
            ORDER BY h.doc_id
        """,
        "link_spam": f"""
            WITH e AS (
                SELECT src_host, dst_host, n_links
                FROM read_parquet('{_WITNESS_DIR}/host_link_graph.parquet')
            ), agg AS (
                SELECT src_host,
                       CAST(sum(n_links) AS BIGINT) AS out_total,
                       CAST(count(*) AS INT) AS n_dst
                FROM e GROUP BY src_host
            ), top AS (
                SELECT src_host, dst_host AS top_dst,
                       CAST(n_links AS BIGINT) AS top_links
                FROM (SELECT *,
                             row_number() OVER (
                                 PARTITION BY src_host
                                 ORDER BY n_links DESC, dst_host ASC
                             ) AS rk
                      FROM e)
                WHERE rk = 1
            )
            SELECT agg.src_host, out_total, n_dst, top_dst, top_links,
                   (2 * top_links >= out_total AND out_total >= 10)
                       AS is_spam
            FROM agg JOIN top USING (src_host)
            ORDER BY agg.src_host
        """,
        "robots_parse": """
            WITH hosts AS (
                SELECT DISTINCT source || '.example.com' AS host,
                       CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT)
                           AS hn
                FROM documents
            ), bodies AS (
                SELECT host,
                       '# robots.txt for ' || host || chr(10) || chr(10)
                       || 'User-Agent: *' || chr(10)
                       || 'Disallow: /private/' || chr(10)
                       || 'allow: /private/public/' || chr(10)
                       || 'Crawl-delay: ' || CAST(1 + hn % 7 AS VARCHAR)
                       || chr(10)
                       || CASE WHEN hn % 2 = 0 THEN
                              chr(10) || '# crawler-specific group'
                              || chr(10)
                              || 'User-agent: ccbot' || chr(10)
                              || 'User-agent: testbot' || chr(10)
                              || 'Disallow: /docs/' || chr(10)
                              || CASE WHEN hn % 4 = 0
                                      THEN 'Allow: /docs/public/' || chr(10)
                                      ELSE '' END
                          ELSE '' END AS body
                FROM hosts
            ), rawlines AS (
                SELECT host, i - 1 AS pos, trim(ls[i]) AS line
                FROM (SELECT host, string_split(body, chr(10)) AS ls
                      FROM bodies),
                     LATERAL unnest(generate_series(1, len(ls))) AS t(i)
            ), lines AS (
                SELECT host, pos,
                       lower(trim(split_part(line, ':', 1))) AS directive,
                       trim(substr(line, strpos(line, ':') + 1)) AS value
                FROM rawlines
                WHERE line <> '' AND NOT starts_with(line, '#')
                      AND contains(line, ':')
            ), grouped AS (
                SELECT *, CASE WHEN directive = 'user-agent'
                               THEN 1 ELSE 0 END AS is_ua
                FROM lines
            ), g2 AS (
                SELECT *,
                       CASE WHEN is_ua = 1
                                 AND coalesce(lag(is_ua) OVER (
                                     PARTITION BY host ORDER BY pos), 0) = 0
                            THEN 1 ELSE 0 END AS new_group
                FROM grouped
            ), g3 AS (
                SELECT *, sum(new_group) OVER (
                    PARTITION BY host ORDER BY pos
                    ROWS UNBOUNDED PRECEDING) AS group_id
                FROM g2
            ), agents AS (
                SELECT host, group_id,
                       max(CASE WHEN value = 'ccbot' THEN 1 ELSE 0 END)
                           AS has_ccbot,
                       max(CASE WHEN value = '*' THEN 1 ELSE 0 END)
                           AS has_star
                FROM g3 WHERE is_ua = 1 GROUP BY host, group_id
            ), hf AS (
                SELECT host, max(has_ccbot) AS any_ccbot
                FROM agents GROUP BY host
            ), chosen AS (
                SELECT a.host, a.group_id,
                       CASE WHEN hf.any_ccbot = 1 THEN 'ccbot'
                            ELSE '*' END AS used_agent
                FROM agents a JOIN hf ON a.host = hf.host
                WHERE (hf.any_ccbot = 1 AND a.has_ccbot = 1)
                   OR (hf.any_ccbot = 0 AND a.has_star = 1)
            )
            SELECT g3.host, chosen.used_agent, g3.directive, g3.value
            FROM g3 JOIN chosen
                 ON g3.host = chosen.host AND g3.group_id = chosen.group_id
            WHERE g3.is_ua = 0
            ORDER BY g3.host, g3.directive, g3.value
        """,
        "embedding_outliers": """
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
        """,
        "hits_step": f"""
            WITH e AS (
                SELECT src_host AS src, dst_host AS dst,
                       CAST(n_links AS BIGINT) AS w
                FROM read_parquet('{_WITNESS_DIR}/host_link_graph.parquet')
            ), nodes AS (
                SELECT DISTINCT host FROM (
                    SELECT src AS host FROM e
                    UNION ALL
                    SELECT dst AS host FROM e
                )
            ), auth AS (
                SELECT dst AS host, CAST(sum(w) AS BIGINT) AS auth_q
                FROM e GROUP BY dst
            ), hub AS (
                SELECT e.src AS host,
                       CAST(sum(e.w * a.auth_q) AS BIGINT) AS hub_q
                FROM e JOIN auth a ON e.dst = a.host
                GROUP BY e.src
            )
            SELECT n.host,
                   coalesce(auth.auth_q, 0) AS auth_q,
                   coalesce(hub.hub_q, 0) AS hub_q
            FROM nodes n
            LEFT JOIN auth ON n.host = auth.host
            LEFT JOIN hub ON n.host = hub.host
            ORDER BY n.host
        """,
        "line_dedup": """
            WITH ws AS (
                SELECT doc_id, string_split(text, ' ') AS ws
                FROM documents
            ), lines AS (
                SELECT doc_id, i AS pos,
                       array_to_string(ws[i * 40 + 1 : i * 40 + 40], ' ')
                           AS line
                FROM ws, LATERAL unnest(generate_series(
                         0, CAST(floor((len(ws) - 1) / 40) AS BIGINT)))
                     AS t(i)
            ), freq AS (
                SELECT md5(line) AS h,
                       count(DISTINCT doc_id) AS df
                FROM lines GROUP BY md5(line)
            ), kept AS (
                SELECT lines.* FROM lines
                JOIN freq ON md5(lines.line) = freq.h
                WHERE freq.df <= 1
            ), rebuilt AS (
                SELECT doc_id, count(*) AS n_kept,
                       md5(string_agg(line, chr(10) ORDER BY pos))
                           AS kept_md5
                FROM kept GROUP BY doc_id
            ), n_lines AS (
                SELECT doc_id, count(*) AS n_lines FROM lines
                GROUP BY doc_id
            )
            SELECT n_lines.doc_id, n_lines.n_lines,
                   coalesce(rebuilt.n_kept, 0) AS n_kept,
                   coalesce(rebuilt.kept_md5,
                            'd41d8cd98f00b204e9800998ecf8427e') AS kept_md5
            FROM n_lines LEFT JOIN rebuilt
                 ON n_lines.doc_id = rebuilt.doc_id
            ORDER BY n_lines.doc_id
        """,
        # mojibake_repair: every column is derived from the CLEAN text —
        # n_chars(garbled) == octet_length(utf-8 bytes), n_marks ==
        # count of bytes >= 0x80 (== octet_length - count of ASCII
        # chars), did_repair fires iff any such byte exists (every
        # multi-byte UTF-8 sequence starts with a 0xC2-0xF4 lead), and
        # a byte-exact repair means md5(repaired) == md5(text).
        "mojibake_repair": """
            WITH garnished AS (
                SELECT doc_id,
                       'Résumé №' || CAST(doc_id AS VARCHAR)
                           || ' 😀 — ' || text AS text
                FROM documents
            )
            SELECT doc_id,
                   octet_length(encode(text)) AS n_chars,
                   octet_length(encode(text))
                       - length(regexp_replace(text, '[^[:ascii:]]',
                                               '', 'g')) AS n_marks,
                   (octet_length(encode(text))
                       - length(regexp_replace(text, '[^[:ascii:]]',
                                               '', 'g'))) > 0
                       AS did_repair,
                   md5(text) AS repaired_md5
            FROM garnished
            ORDER BY doc_id
        """,
        # phrase_search: the oracle is deliberately the SEMANTIC ground
        # truth — direct adjacent-bigram counting — while Spark routes
        # the same phrases through the positional-postings join; a
        # match proves the index path reconstructs exactly the direct
        # counts (round-trip witness).
        "phrase_search": """
            WITH ws AS (
                SELECT doc_id, string_split(text, ' ') AS ws
                FROM documents
            ), bigrams AS (
                SELECT doc_id,
                       unnest(list_filter(list_transform(
                           range(1, len(ws)),
                           i -> CASE WHEN length(ws[i]) > 0
                                      AND length(ws[i + 1]) > 0
                                THEN ws[i] || ' ' || ws[i + 1] END),
                           x -> x IS NOT NULL)) AS phrase
                FROM ws
            ), top AS (
                SELECT phrase FROM (
                    SELECT phrase, count(*) AS n_total
                    FROM bigrams GROUP BY phrase
                    ORDER BY n_total DESC, phrase ASC LIMIT 5
                )
            )
            SELECT phrase,
                   count(DISTINCT doc_id) AS n_docs,
                   count(*) AS n_occ
            FROM bigrams
            WHERE phrase IN (SELECT phrase FROM top)
            GROUP BY phrase
            ORDER BY phrase
        """,
        "sitemap_parse": """
            WITH hosts AS (
                SELECT DISTINCT source || '.example.com' AS host,
                       CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT)
                           AS hn
                FROM documents
            ), bodies AS (
                SELECT host,
                       '<urlset>' || list_aggregate(list_transform(
                           generate_series(1, 1 + hn % 5),
                           i -> '<url><loc>https://' || host || '/page/'
                                || CAST(i AS VARCHAR) || '</loc>'
                                || CASE WHEN i % 2 = 0 THEN
                                       '<lastmod>2024-01-'
                                       || lpad(CAST(10 + (hn + i) % 19
                                               AS VARCHAR), 2, '0')
                                       || '</lastmod>'
                                   ELSE '' END
                                || CASE WHEN i % 3 <> 0 THEN
                                       '<priority>0.'
                                       || CAST(i % 10 AS VARCHAR)
                                       || '</priority>'
                                   ELSE '' END
                                || '<changefreq>'
                                || (['daily', 'weekly', 'monthly'])[
                                       1 + (hn + i) % 3]
                                || '</changefreq></url>'),
                           'string_agg', '') || '</urlset>' AS body
                FROM hosts
            ), fields AS (
                SELECT host,
                       regexp_extract(b, '<lastmod>([^<]*)</lastmod>', 1)
                           AS lastmod,
                       regexp_extract(b, '<priority>0\\.(\\d)</priority>', 1)
                           AS prio,
                       regexp_extract(b,
                           '<changefreq>([^<]*)</changefreq>', 1) AS cf
                FROM (SELECT host,
                             unnest(regexp_extract_all(
                                 body, '<url>(.*?)</url>', 1)) AS b
                      FROM bodies)
            )
            SELECT host,
                   count(*) AS n_urls,
                   sum(CASE WHEN lastmod <> '' THEN 1 ELSE 0 END)
                       AS n_lastmod,
                   coalesce(max(nullif(lastmod, '')), '') AS last_mod,
                   sum(CASE WHEN prio <> '' THEN CAST(prio AS BIGINT)
                            ELSE 0 END) AS sum_prio10,
                   sum(CASE WHEN cf = 'daily' THEN 1 ELSE 0 END) AS n_daily
            FROM fields
            GROUP BY host
            ORDER BY host
        """,
        "c4_filters": """
            WITH base AS (
                SELECT doc_id,
                       string_split(text, ' ') AS ws,
                       CAST(5 + doc_id % 7 AS INT) AS k
                FROM documents
            ), lined AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 41 = 0 THEN
                           ['lorem ipsum dolor sit amet consectetur.']
                       ELSE [] END
                       || CASE WHEN doc_id % 37 = 0 THEN
                           ['var config = { privacy: true };']
                       ELSE [] END
                       || CASE WHEN doc_id % 11 = 0 THEN
                           ['please enable javascript to continue viewing.']
                       ELSE [] END
                       || list_transform(
                           generate_series(0, (len(ws) - 1) // k),
                           i -> array_to_string(
                                    list_slice(ws, i * k + 1, i * k + k),
                                    ' ')
                                || (['', '.', '!', '?'])[
                                       CAST((doc_id + i) % 4 AS INT) + 1])
                       AS lines
                FROM base
            ), filtered AS (
                SELECT doc_id,
                       CAST(len(lines) AS INT) AS n_lines,
                       list_filter(lines,
                           l -> regexp_matches(l, '[.!?"]$')
                                AND len(string_split(l, ' ')) >= 5
                                AND NOT contains(lower(l), 'javascript'))
                           AS kept,
                       len(list_filter(lines,
                           l -> contains(lower(l), 'lorem ipsum'))) > 0
                           AS has_lorem,
                       len(list_filter(lines, l -> contains(l, '{'))) > 0
                           AS has_brace
                FROM lined
            ), rebuilt AS (
                SELECT doc_id, n_lines,
                       CAST(len(kept) AS INT) AS n_kept_lines,
                       coalesce(array_to_string(kept, chr(10)), '')
                           AS kept_text,
                       has_lorem, has_brace
                FROM filtered
            )
            SELECT doc_id, n_lines, n_kept_lines,
                   CAST(len(regexp_extract_all(kept_text, '[.!?]'))
                        AS BIGINT) AS n_sentences,
                   has_lorem, has_brace,
                   (len(regexp_extract_all(kept_text, '[.!?]')) >= 3
                    AND NOT has_lorem AND NOT has_brace) AS keep,
                   md5(kept_text) AS kept_md5
            FROM rebuilt
            ORDER BY doc_id
        """,
        "host_template_lines": """
            WITH ws AS (
                SELECT doc_id, source || '.example.com' AS host,
                       string_split(text, ' ') AS ws
                FROM documents
            ), chunks AS (
                SELECT doc_id, host, i + 1 AS pos,
                       array_to_string(ws[i * 40 + 1 : i * 40 + 40], ' ')
                           AS line
                FROM ws, LATERAL unnest(generate_series(
                         0, CAST(floor((len(ws) - 1) / 40) AS BIGINT)))
                     AS t(i)
            ), lines AS (
                SELECT doc_id, host, 0 AS pos,
                       'Home | About | Contact — © ' || host
                           || ' — we use cookies' AS line
                FROM ws
                UNION ALL
                SELECT * FROM chunks
            ), host_docs AS (
                SELECT host, count(DISTINCT doc_id) AS n_docs
                FROM ws GROUP BY host
            ), freq AS (
                SELECT host, md5(line) AS h,
                       count(DISTINCT doc_id) AS df
                FROM lines GROUP BY host, md5(line)
            ), template AS (
                SELECT freq.host, freq.h
                FROM freq JOIN host_docs ON freq.host = host_docs.host
                WHERE freq.df >= 2 AND freq.df * 2 >= host_docs.n_docs
            ), kept AS (
                SELECT lines.* FROM lines
                LEFT JOIN template
                     ON lines.host = template.host
                        AND md5(lines.line) = template.h
                WHERE template.h IS NULL
            ), rebuilt AS (
                SELECT doc_id, count(*) AS n_kept,
                       md5(string_agg(line, chr(10) ORDER BY pos))
                           AS kept_md5
                FROM kept GROUP BY doc_id
            ), n_lines AS (
                SELECT doc_id, count(*) AS n_lines FROM lines
                GROUP BY doc_id
            )
            SELECT n_lines.doc_id, n_lines.n_lines,
                   coalesce(rebuilt.n_kept, 0) AS n_kept,
                   coalesce(rebuilt.kept_md5,
                            'd41d8cd98f00b204e9800998ecf8427e') AS kept_md5
            FROM n_lines LEFT JOIN rebuilt
                 ON n_lines.doc_id = rebuilt.doc_id
            ORDER BY n_lines.doc_id
        """,
        "classifier_scores": """
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_words,
                   CAST(list_sum(list_transform(string_split(text, ' '),
                        w -> (strpos('0123456789abcdef',
                                     substr(md5('w' || w), 1, 1)) - 1) * 16
                           + strpos('0123456789abcdef',
                                    substr(md5('w' || w), 2, 1)) - 1 - 128))
                        AS BIGINT) AS score,
                   CAST(list_sum(list_transform(string_split(text, ' '),
                        w -> (strpos('0123456789abcdef',
                                     substr(md5('w' || w), 1, 1)) - 1) * 16
                           + strpos('0123456789abcdef',
                                    substr(md5('w' || w), 2, 1)) - 1 - 128))
                        AS BIGINT) >= 0 AS label
            FROM documents
            ORDER BY doc_id
        """,
    }
