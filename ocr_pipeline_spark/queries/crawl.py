"""Crawl family: robots and sitemap parsing, robots filtering, frontier
scheduling, the CDX index, url canonicalization and per-host HLL, all
over the synthetic url shape of queries/common.py."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ocr_pipeline_spark.operators.text_ops import exact_dup_key
from ocr_pipeline_spark.queries.common import (
    SYNTH_HOSTS_SQL, SYNTH_URLS_SQL, synth_hosts, synth_urls, synth_urls_sql,
    table,
)


def robots_filter(spark, sf_dir):
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
    urls = synth_urls(table(spark, sf_dir, "documents")).select(
        "url", "host", "path"
    )
    rules = (
        synth_hosts(spark, sf_dir).select(
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


ROBOTS_FILTER_SQL = f"""
    WITH urls AS ({SYNTH_URLS_SQL}), hosts AS ({SYNTH_HOSTS_SQL}), rules AS (
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
"""


def url_canonical_dedup(spark, sf_dir):
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
    d = table(spark, sf_dir, "documents")
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


URL_CANONICAL_DEDUP_SQL = r"""
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
"""


def host_url_hll(spark, sf_dir):
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
    as the verification column (rel_err is the observable).  Captures
    are the synthetic urls of doc_id % 200, so hosts repeat urls.

    Scale shape: the sketch path is two partial-aggregated shuffles of
    TINY rows — (host, reg) max(rho) is at most 64 rows per host after
    the map-side combine, then one row per host — while the url strings
    never shuffle at all.  At 10^12 captures this is the whole point:
    the exact-count column used here for verification is the expensive
    plan (a full distinct shuffle) the sketch replaces in production."""
    caps = synth_urls(
        table(spark, sf_dir, "documents").withColumn(
            "doc_id", F.col("doc_id") % 200
        )
    ).select("host", "url")
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


_CAPTURES_SQL = "(SELECT * REPLACE (doc_id % 200 AS doc_id) FROM documents)"
HOST_URL_HLL_SQL = f"""
    WITH caps AS (
        SELECT host, url FROM ({synth_urls_sql(_CAPTURES_SQL)})
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
"""


def cdx_index(spark, sf_dir):
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
    d = synth_urls(table(spark, sf_dir, "documents"))
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


CDX_INDEX_SQL = f"""
    WITH d AS (
        SELECT *,
               CASE WHEN doc_id % 3 = 0 THEN 'b=2&a=1'
                    WHEN doc_id % 3 = 1 THEN 'z=9'
                    ELSE NULL END AS rawq
        FROM ({SYNTH_URLS_SQL})
    )
    SELECT array_to_string(
               list_reverse(string_split(host, '.')), ',')
           || ')' || path
           || coalesce('?' || array_to_string(
                  list_sort(string_split(rawq, '&')), '&'), '')
               AS surt_key,
           20260200000000 + doc_id AS ts,
           url || coalesce('?' || rawq, '') AS url,
           md5(text) AS digest
    FROM d
    ORDER BY surt_key, ts
"""


def frontier_schedule(spark, sf_dir):
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
    urls = synth_urls(table(spark, sf_dir, "documents"))
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


FRONTIER_SCHEDULE_SQL = f"""
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
    FROM ({SYNTH_URLS_SQL})
    ORDER BY host, dispatch_at_s, url
"""


def robots_parse(spark, sf_dir):
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
    lines = synth_hosts(spark, sf_dir).select(
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


ROBOTS_PARSE_SQL = f"""
    WITH hosts AS ({SYNTH_HOSTS_SQL}), bodies AS (
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
"""


def sitemap_parse(spark, sf_dir):
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
    bodies = synth_hosts(spark, sf_dir).withColumn(
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


SITEMAP_PARSE_SQL = rf"""
    WITH hosts AS ({SYNTH_HOSTS_SQL}), bodies AS (
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
               regexp_extract(b, '<priority>0\.(\d)</priority>', 1)
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
"""
