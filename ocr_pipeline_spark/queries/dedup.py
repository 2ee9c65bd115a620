"""Dedup family: exact duplicated spans, near-duplicate pairs,
decontamination, soft weights, containment, Bloom probes, and the
paragraph-level line and template removal."""

from __future__ import annotations

from pyspark.sql import Observation, Window
from pyspark.sql import functions as F

from ocr_pipeline_spark.operators.components import connected_components
from ocr_pipeline_spark.operators.text_ops import (
    blocked_containment_pairs, blocked_jaccard_pairs, cross_corpus_near_dups,
    log_overflow_metrics, lsh_candidate_pairs, minhash_kernel,
    verified_near_dups,
)
from ocr_pipeline_spark.queries.common import (
    SYNTH_URLS_SQL, synth_urls, table, witness_sql,
)

_K = 8  # word n-gram length of the span dedup


def _dup_gram_hits(d):
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
    grams = ws.filter(F.size("ws") >= _K).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(ws) - {_K - 1}), "
                f"i -> struct(i AS pos, md5(array_join(slice(ws, i, {_K}), ' ')) AS g))"
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


def _dup_span_rows(d):
    """(doc_id, span_start, span_end, n_grams): every maximal run of
    overlapping duplicated k-grams merged into one word interval.
    Island merging is a per-document window (partitioned by doc)."""
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + (_K - 1)).over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = _dup_gram_hits(d).withColumn(
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
            (F.max("pos") + (_K - 1)).cast("int").alias("span_end"),
            F.count("*").cast("int").alias("n_grams"),
        )
        .drop("island")
    )


# SQL twin of _dup_span_rows: the `spans` CTE
_DUP_SPANS_CTES = f"""
    ws AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), grams AS (
        SELECT doc_id, i AS pos,
               md5(array_to_string(ws[i:i+{_K - 1}], ' ')) AS g
        FROM ws, LATERAL unnest(generate_series(1, len(ws) - {_K - 1})) AS t(i)
        WHERE len(ws) >= {_K}
    ), counted AS (
        SELECT doc_id, pos,
               count(*) OVER (PARTITION BY g) AS cnt
        FROM grams
    ), hits AS (
        SELECT doc_id, pos FROM counted WHERE cnt >= 2
    ), islands AS (
        SELECT doc_id, pos,
               CASE WHEN pos <= coalesce(max(pos + {_K - 1}) OVER (
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
        SELECT doc_id,
               CAST(min(pos) AS INT) AS span_start,
               CAST(max(pos) + {_K - 1} AS INT) AS span_end,
               CAST(count(*) AS INT) AS n_grams
        FROM numbered GROUP BY doc_id, island
    )
"""


def dup_spans(spark, sf_dir):
    """Exact duplicated-substring SPAN MARKING (the Lee et al.
    'Deduplicating Training Data' primitive): every maximal run of
    word 8-grams that occurs >= 2 times corpus-wide is emitted as a
    removable (doc_id, span_start, span_end) interval.

    Scale shape: two-phase gram counting (partial agg + semi join,
    see _dup_gram_hits — hot grams collapse map-side, the join is
    AQE-skew-splittable); island-merging is a per-document window
    (partitioned by doc).  Integer-exact."""
    return _dup_span_rows(table(spark, sf_dir, "documents")).orderBy(
        "doc_id", "span_start"
    )


DUP_SPANS_SQL = f"""
    WITH {_DUP_SPANS_CTES}
    SELECT doc_id, span_start, span_end, n_grams
    FROM spans ORDER BY doc_id, span_start
"""


def dedup_apply_spans(spark, sf_dir):
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
    d = table(spark, sf_dir, "documents")
    ws = d.select("doc_id", F.split("text", " ").alias("ws"))
    spans = _dup_span_rows(d).groupBy("doc_id").agg(
        F.collect_list(
            F.struct(F.col("span_start").alias("s"), F.col("span_end").alias("e"))
        ).alias("spans")
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


DEDUP_APPLY_SPANS_SQL = f"""
    WITH {_DUP_SPANS_CTES}, words AS (
        SELECT doc_id, i AS pos, ws[i] AS word, len(ws) AS n_words
        FROM ws, LATERAL unnest(generate_series(1, len(ws))) AS t(i)
    ), flagged AS (
        SELECT wd.*,
               NOT EXISTS (SELECT 1 FROM spans s
                           WHERE s.doc_id = wd.doc_id
                             AND wd.pos BETWEEN s.span_start
                                            AND s.span_end) AS keep
        FROM words wd
    )
    SELECT doc_id,
           CAST(max(n_words) AS INT) AS n_words,
           CAST(max(n_words)
                - count(CASE WHEN keep THEN 1 END) AS INT) AS n_removed,
           md5(coalesce(string_agg(CASE WHEN keep THEN word END,
                                   ' ' ORDER BY pos), '')) AS new_md5
    FROM flagged GROUP BY doc_id ORDER BY doc_id
"""


def minhash_dup_pairs(spark, sf_dir):
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
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


MINHASH_DUP_PAIRS_SQL = witness_sql("minhash_dup_pairs", "id_a, id_b", "id_a, id_b")


def near_dup_verified(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return verified_near_dups(d, "doc_id", "text", threshold=0.3).orderBy(
        "id_a", "id_b"
    )


NEAR_DUP_VERIFIED_SQL = witness_sql(
    "near_dup_verified", "id_a, id_b, jaccard", "id_a, id_b"
)


def fuzzy_decontamination(spark, sf_dir):
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
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
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


FUZZY_DECONTAMINATION_SQL = witness_sql(
    "fuzzy_decontamination", "doc_id, ref_id, jaccard", "doc_id, ref_id"
)


def dedup_soft_weights(spark, sf_dir):
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
    d = table(spark, sf_dir, "documents")
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


DEDUP_SOFT_WEIGHTS_SQL = """
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
"""


def containment_pairs(spark, sf_dir):
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
    d = table(spark, sf_dir, "documents")
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


CONTAINMENT_PAIRS_SQL = """
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
"""


def bloom_dedup_probe(spark, sf_dir):
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
    d = table(spark, sf_dir, "documents")
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


BLOOM_DEDUP_PROBE_SQL = """
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
"""

# The fixture's 40-word paragraphs (gen_pages.wrap_document_as_page's
# chunking) of a `ws` word-array column.
_PARAGRAPHS = (
    "transform(sequence(0, cast(floor((size(ws) - 1) / 40) as int)),"
    " i -> array_join(slice(ws, i * 40 + 1, 40), ' '))"
)
_EMPTY_MD5 = "d41d8cd98f00b204e9800998ecf8427e"


def _kept_lines(lines, kept):
    """(doc_id, n_lines, n_kept, kept_md5) per document of `lines`
    (doc_id, pos, line): the md5 covers the `kept` lines rejoined by
    newlines in position order, md5('') when none survives."""
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
    return (
        n_lines.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("kept_md5", F.lit(_EMPTY_MD5)).alias("kept_md5"),
        )
        .orderBy("doc_id")
    )


# SQL twin of _kept_lines: the tail of a query whose CTEs define
# `lines` and `kept`
_KEPT_LINES_SQL = f"""
    rebuilt AS (
        SELECT doc_id, count(*) AS n_kept,
               md5(string_agg(line, chr(10) ORDER BY pos)) AS kept_md5
        FROM kept GROUP BY doc_id
    ), n_lines AS (
        SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id
    )
    SELECT n_lines.doc_id, n_lines.n_lines,
           coalesce(rebuilt.n_kept, 0) AS n_kept,
           coalesce(rebuilt.kept_md5, '{_EMPTY_MD5}') AS kept_md5
    FROM n_lines LEFT JOIN rebuilt ON n_lines.doc_id = rebuilt.doc_id
    ORDER BY n_lines.doc_id
"""


def line_dedup(spark, sf_dir):
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
    d = table(spark, sf_dir, "documents")
    ws = d.select("doc_id", F.split("text", " ").alias("ws"))
    lines = ws.select(
        "doc_id", F.posexplode(F.expr(_PARAGRAPHS)).alias("pos", "line"),
    ).withColumn("h", F.md5(F.encode("line", "UTF-8")))
    freq = lines.groupBy("h").agg(
        F.countDistinct("doc_id").alias("df")
    )
    kept = lines.join(freq, "h").filter(F.col("df") <= 1)
    return _kept_lines(lines, kept)


LINE_DEDUP_SQL = f"""
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
    ), {_KEPT_LINES_SQL}
"""


def host_template_lines(spark, sf_dir):
    """X75: host-scoped template-line removal — the inter-document
    boilerplate pass (CCNet/trafilatura family): a paragraph that
    appears on at least half of a host's pages (and on >= 2 of them)
    is site furniture (nav, cookie banner, footer), not content, and
    is stripped from every page; an organically duplicated paragraph
    on a few pages survives.  Differs from line_dedup (corpus-global
    df<=1 dedup) in both scope and rule: the decision is host-local
    and ratio-based.  Every page gets a deterministic synthesized
    banner line (host furniture, spelled identically by the SQL twin —
    same pattern as the crawl queries' synth_urls), so the detector
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
    d = synth_urls(table(spark, sf_dir, "documents")).withColumn(
        "ws", F.split("text", " ")
    )
    banner = F.concat(
        F.lit("Home | About | Contact — © "),
        F.col("host"),
        F.lit(" — we use cookies"),
    )
    lines = d.select(
        "doc_id",
        "host",
        F.posexplode(
            F.concat(F.array(banner), F.expr(_PARAGRAPHS))
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
    return _kept_lines(lines, kept)


HOST_TEMPLATE_LINES_SQL = f"""
    WITH ws AS (
        SELECT doc_id, host, string_split(text, ' ') AS ws
        FROM ({SYNTH_URLS_SQL})
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
    ), {_KEPT_LINES_SQL}
"""
