"""Link family: anchor texts and the X31 host link graph (PageRank,
HITS, link spam), all over the synthetic pages corpus at its witness
size, so every oracle reads the host_link_graph / anchor_texts
witnesses."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ocr_pipeline_spark.operators.links_op import (
    anchor_texts_df, host_link_graph,
)
from ocr_pipeline_spark.queries.common import (
    witness, witness_pages, witness_sql,
)


def _host_graph(spark):
    """(edges, nodes) of the witness-sized host graph: edges
    (src, dst, w) with w the link count, nodes (host) every host on
    either end.  The edge frame is a kernel-derived subtree with
    several consumers, so it is pinned (the anchor_texts
    materialization policy)."""
    e = (
        host_link_graph(witness_pages(spark, cross_links=True))
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
    return e, nodes


# SQL twin of _host_graph: the `e` and `nodes` CTEs
_HOST_GRAPH_CTES = f"""
    e AS (
        SELECT src_host AS src, dst_host AS dst,
               CAST(n_links AS BIGINT) AS w
        FROM {witness("host_link_graph")}
    ), nodes AS (
        SELECT src AS host FROM e UNION SELECT dst FROM e
    )
"""


def pagerank_step(spark, sf_dir):
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
    S = 1_000_000_000_000
    e, nodes = _host_graph(spark)
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


PAGERANK_STEP_SQL = f"""
    WITH {_HOST_GRAPH_CTES}, outw AS (
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
"""


def anchor_texts(spark, sf_dir):
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
    # eager localCheckpoint: BOTH aggregation branches consume the
    # anchor frame, and without the lineage cut Spark duplicates the
    # whole generate+parse kernel subtree into each branch —
    # checkpoint once, parse once
    a = anchor_texts_df(witness_pages(spark, cross_links=True)).localCheckpoint()
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


ANCHOR_TEXTS_SQL = witness_sql(
    "anchor_texts",
    "dst_url, n_refs, n_src_hosts, top_anchor, top_anchor_n",
    "dst_url",
)


def link_spam(spark, sf_dir):
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
    partial agg.  One consumer, so unlike pagerank_step and hits_step
    the edge frame is not pinned."""
    e = host_link_graph(witness_pages(spark, cross_links=True))
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


LINK_SPAM_SQL = f"""
    WITH {_HOST_GRAPH_CTES}, agg AS (
        SELECT src AS src_host,
               CAST(sum(w) AS BIGINT) AS out_total,
               CAST(count(*) AS INT) AS n_dst
        FROM e GROUP BY src
    ), top AS (
        SELECT src AS src_host, dst AS top_dst, w AS top_links
        FROM (SELECT *,
                     row_number() OVER (
                         PARTITION BY src ORDER BY w DESC, dst ASC
                     ) AS rk
              FROM e)
        WHERE rk = 1
    )
    SELECT agg.src_host, out_total, n_dst, top_dst, top_links,
           (2 * top_links >= out_total AND out_total >= 10) AS is_spam
    FROM agg JOIN top USING (src_host)
    ORDER BY agg.src_host
"""


def hits_step(spark, sf_dir):
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
    e, nodes = _host_graph(spark)
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


HITS_STEP_SQL = f"""
    WITH {_HOST_GRAPH_CTES}, auth AS (
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
"""
