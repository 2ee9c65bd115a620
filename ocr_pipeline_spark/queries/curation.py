"""Curation family: quality filters (Gopher, C4, the hashed-feature
classifier), DSIR resampling weights, tokenizer statistics, the
corpus-build chain, Count-Min heavy hitters and phrase search."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ocr_pipeline_spark.operators.bpe import train_bpe, word_counts_df
from ocr_pipeline_spark.operators.text_ops import exact_dup_key
from ocr_pipeline_spark.queries.common import table, witness_sql


def dsir_weights(spark, sf_dir):
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
    d = table(spark, sf_dir, "documents")
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


DSIR_WEIGHTS_SQL = """
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
"""


def bpe_pair_counts(spark, sf_dir):
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
    wc = word_counts_df(table(spark, sf_dir, "documents"))
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


BPE_PAIR_COUNTS_SQL = """
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
"""


def bpe_merges(spark, sf_dir):
    """X39 (tokenizer training): the learned BPE merge list.  The
    corpus-bound stage is the distributed weighted word count; merge
    learning runs over the BOUNDED top-V vocabulary (V rows cross to
    the driver regardless of corpus size — the SentencePiece/HF
    architecture, see operators/bpe.py).  Oracle: golden witness from
    the single-process twin (scripts/gen_witness.py) — equality proves
    distributed-wordcount + bounded-vocab training == direct training
    over the raw corpus."""
    merges = train_bpe(
        table(spark, sf_dir, "documents"), n_merges=64, vocab_cap=20_000
    )
    return spark.createDataFrame(
        [(i, l, r) for i, (l, r) in enumerate(merges)],
        schema="rank int, lhs string, rhs string",
    ).orderBy("rank")


BPE_MERGES_SQL = witness_sql("bpe_merges", "rank, lhs, rhs", "rank")


def heavy_hitters_cms(spark, sf_dir):
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
    d = table(spark, sf_dir, "documents")
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


HEAVY_HITTERS_CMS_SQL = """
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
"""


def corpus_curation(spark, sf_dir):
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
    d = table(spark, sf_dir, "documents")
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


CORPUS_CURATION_SQL = """
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
"""


_GOPHER_STOPS = ("and", "be", "have", "of", "that", "the", "to", "with")


def gopher_rules(spark, sf_dir):
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
    d = table(spark, sf_dir, "documents")
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


GOPHER_RULES_SQL = f"""
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
                   {list(_GOPHER_STOPS)})) AS n_stops,
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
"""


def seq_len_buckets(spark, sf_dir):
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
    d = table(spark, sf_dir, "documents")
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


SEQ_LEN_BUCKETS_SQL = """
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
"""


def c4_filters(spark, sf_dir):
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
    d = table(spark, sf_dir, "documents")
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


C4_FILTERS_SQL = """
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
"""


def classifier_scores(spark, sf_dir):
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
    d = table(spark, sf_dir, "documents")
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


_CLASSIFIER_SCORE_SQL = """
    CAST(list_sum(list_transform(string_split(text, ' '),
         w -> (strpos('0123456789abcdef',
                      substr(md5('w' || w), 1, 1)) - 1) * 16
            + strpos('0123456789abcdef',
                     substr(md5('w' || w), 2, 1)) - 1 - 128))
         AS BIGINT)
"""
CLASSIFIER_SCORES_SQL = f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_words,
           {_CLASSIFIER_SCORE_SQL} AS score,
           {_CLASSIFIER_SCORE_SQL} >= 0 AS label
    FROM documents
    ORDER BY doc_id
"""


def phrase_search(spark, sf_dir):
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
    d = table(spark, sf_dir, "documents")
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


# The oracle is deliberately the SEMANTIC ground truth — direct
# adjacent-bigram counting — while Spark routes the same phrases through
# the positional-postings join; a match proves the index path
# reconstructs exactly the direct counts (round-trip witness).
PHRASE_SEARCH_SQL = """
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
"""
