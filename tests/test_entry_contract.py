"""Mini-driver: replicate the harness's queries()/oracle_sql() compare
(row count + column names + order-insensitive value hash) via DuckDB."""

import hashlib
import math
import os
import re

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
SF_SMALL = "/root/testdata/sf0.001"
# Only the tables a query reads: a query over a retired table (the
# TPC-H star or the events log) fails the compare loudly.
TABLES = ("documents", "embeddings")
# Queries that generate their input at their witness's fixed size: their
# oracles must hold at every scale, so they are compared at a second one.
WITNESS_SIZED = (
    "assemble_documents", "anchor_texts", "pagerank_step", "link_spam",
    "hits_step", "pdf_page_explode", "pdf_layout_markdown",
    "extract_pdf_documents",
)


@pytest.fixture(scope="module")
def ddb_at():
    cons = {}
    for sf_dir in (SF_DIR, SF_SMALL):
        con = cons[sf_dir] = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
    yield cons
    for con in cons.values():
        con.close()


@pytest.fixture(scope="module")
def ddb(ddb_at):
    return ddb_at[SF_DIR]


def _norm(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    if isinstance(v, int):
        return str(v)
    return str(v)


def _value_hash(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(_norm(r[i]) for i in order) for r in rows
    )
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


ORACLE_KEYS = sorted(entry_mod.oracle_sql().keys())

# Columns allowed a NULL cell.  hybrid_search fuses two ranked lists; a
# document absent from one of them has no rank there.
NULLABLE_COLUMNS = {"hybrid_search": {"r_lex", "r_dense"}}


def test_every_oracle_key_has_a_query():
    qs = entry_mod.queries()
    for k in ORACLE_KEYS:
        assert k in qs


def test_oracled_queries_fill_driver_window():
    """The driver's correctness harness evaluates only the first 50
    queries() entries.  Pin the ordering contract: every one of the
    first 50 entries must be oracled (the hard-signal window is fully
    utilized), and every oracled key must precede every non-oracled key,
    so a no-oracle query added later can only sit past the window."""
    keys = list(entry_mod.queries())
    oracled = set(ORACLE_KEYS)
    assert all(k in oracled for k in keys[:50]), (
        "a no-oracle query sits inside the driver's 50-entry window"
    )
    first_unoracled = min(
        (i for i, k in enumerate(keys) if k not in oracled),
        default=len(keys),
    )
    last_oracled = max(i for i, k in enumerate(keys) if k in oracled)
    assert last_oracled < first_unoracled, (
        "oracled queries must all precede no-oracle queries"
    )


def test_rows_only_queries_run(spark):
    """Any query without an oracle must still build and run on the
    small corpus (none is left today; the check guards a new one)."""
    qs = entry_mod.queries()
    for name in set(qs) - set(ORACLE_KEYS):
        df = qs[name](spark, "/root/testdata/sf0.001")
        assert df.count() >= 0, name


@pytest.mark.parametrize(
    "name,sf_dir",
    [pytest.param(n, SF_DIR, id=n) for n in ORACLE_KEYS]
    + [pytest.param(n, SF_SMALL, id=f"{n}-sf0.001") for n in WITNESS_SIZED],
)
def test_query_matches_oracle(spark, ddb_at, name, sf_dir):
    q = entry_mod.queries()[name]
    sdf = q(spark, sf_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = ddb_at[sf_dir].execute(entry_mod.oracle_sql()[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    # `_norm` maps None to the same token on both sides, so the hash
    # compare alone cannot catch a NULL cell.
    nullable = NULLABLE_COLUMNS.get(name, set())
    null_cols = {
        c for r in spark_rows for c, v in zip(spark_cols, r)
        if v is None and c not in nullable
    }
    assert not null_cols, f"{name}: NULL cells in {sorted(null_cols)}"
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    sh = _value_hash(spark_rows, spark_cols)
    dh = _value_hash(duck_rows, duck_cols)
    if sh != dh:
        s_lines = sorted(spark_rows)
        d_lines = sorted(duck_rows)
        diffs = [
            (a, b) for a, b in zip(s_lines, d_lines) if a != b
        ][:5]
        pytest.fail(f"{name}: value hash mismatch; first diffs: {diffs}")


def test_every_witness_an_oracle_reads_exists():
    """Each oracle names its witness parquet by an absolute path the
    driver module resolves; a wrong anchor would fail only inside
    DuckDB, so pin every path to an existing file."""
    sqls = entry_mod.oracle_sql().values()
    paths = {
        p for sql in sqls for p in re.findall(r"read_parquet\('([^']+)'\)", sql)
    }
    assert len(paths) == 16, sorted(paths)
    missing = sorted(p for p in paths if not os.path.isfile(p))
    assert not missing, missing


def test_near_dup_verified_consistent_with_exact_oracle(spark):
    """Pin near_dup_verified (MinHash-LSH + n-gram verify) two
    independent ways: (a) every reported jaccard equals an in-process
    recomputation on the raw texts, (b) any same-host pair at the exact
    blocked-Jaccard threshold (3/5) appears in the exact pair set."""
    from ocr_pipeline_spark.operators.text_ops import (
        blocked_jaccard_pairs,
        ngram_jaccard,
    )

    qs = entry_mod.queries()
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    texts = {r.doc_id: r.text for r in d.select("doc_id", "text").collect()}
    hosts = {r.doc_id: r.source for r in d.select("doc_id", "source").collect()}
    nd = [(r.id_a, r.id_b, r.jaccard) for r in
          qs["near_dup_verified"](spark, SF_DIR).collect()]
    assert nd, "no verified near-dups on the fixture corpus"
    for a, b, j in nd:
        assert j == round(ngram_jaccard(texts[a], texts[b]), 4), (a, b)
    exact = {(r.id_a, r.id_b) for r in blocked_jaccard_pairs(
        d, "doc_id", "text", "source", threshold_num=3, threshold_den=5
    ).collect()}
    for a, b, j in nd:
        if j >= 0.6 and hosts[a] == hosts[b]:
            assert (a, b) in exact, (a, b, j)


def test_approx_percentile_within_tolerance_of_exact(spark):
    """approx_percentile (the t-digest-style sketch — the scale path
    for distribution stats) must land within a small rank error of the
    exact quantiles of the same column."""
    from pyspark.sql import functions as F

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    probs = [0.1, 0.25, 0.5, 0.75, 0.9]
    approx = d.agg(
        F.percentile_approx("n_chars", probs, 10_000).alias("q")
    ).first().q
    values = sorted(r.n_chars for r in d.select("n_chars").collect())
    n = len(values)
    for p, a in zip(probs, approx):
        # rank of the sketch's answer must be within 1% of target rank
        import bisect

        lo = bisect.bisect_left(values, a)
        hi = bisect.bisect_right(values, a)
        target = p * (n - 1)
        assert lo - 1 <= target + 0.01 * n and hi >= target - 0.01 * n, (
            p, a, lo, hi, target,
        )


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    n = df.count()
    assert n == 500  # sf0.001 documents
    schema = df.schema.simpleString()
    assert "markdown:string" in schema and "spans:array" in schema
    sample = df.filter("n_chars > 0").first()
    assert sample.markdown.startswith("<!-- Page 1 | Type: ")


def test_driver_window_allocation():
    """The driver's correctness harness evaluates only the FIRST 50
    queries() entries.  Pin the deliberate allocation: queries() is
    exactly that window, every entry has an oracle_sql() entry (and
    every oracle a query), and the extraction + dedup/curation/tokenizer
    flagship set fills it (a new query added carelessly must not
    silently evict one)."""
    names = list(entry_mod.queries())
    assert set(names) == set(entry_mod.oracle_sql())
    assert len(names) == 50
    # The window holds the pinned core, the queries that first got a
    # CORRECTNESS row in round 5, and four web-text queries swapped into
    # the slots the retired relational-shell queries (three event
    # streams and order_quartiles) freed.
    must_have = {
        # extraction family (always pinned)
        "extract_documents", "assemble_documents",
        "extract_pdf_documents", "pdf_page_explode",
        "pdf_layout_markdown",
        "page_metadata", "extract_fidelity", "text_normalize",
        # plans changed in round 5
        "dup_spans", "dedup_apply_spans", "dsir_weights",
        # near-dup flagships
        "minhash_dup_pairs", "near_dup_verified",
        # first CORRECTNESS row in round 5
        "doc_embeddings", "doc_embed_knn", "ann_lsh_recall",
        "ann_ivf_recall", "embedding_near_dup_lsh_recall",
        "pagerank_step", "hybrid_search", "anchor_texts",
        "robots_filter", "bpe_pair_counts",
        "bpe_merges", "fuzzy_decontamination", "wet_export",
        "dedup_soft_weights", "url_canonical_dedup", "host_url_hll",
        "heavy_hitters_cms", "containment_pairs", "cdx_index",
        "corpus_curation", "frontier_schedule", "doc_embed_semdedup",
        "gopher_rules", "seq_len_buckets", "bloom_dedup_probe",
        "link_spam", "hits_step", "robots_parse",
        "embedding_outliers",
        "mojibake_repair", "host_template_lines", "phrase_search",
        "sitemap_parse",
        # swapped in for the retired relational-shell queries:
        # c4_filters never had a CORRECTNESS row; the other three have a
        # green row in CORRECTNESS_r04
        "c4_filters", "warc_records", "line_dedup", "classifier_scores",
    }
    assert len(must_have) == 50
    missing = must_have - set(names)
    assert not missing, f"flagships evicted from driver window: {missing}"
    assert set(names) == must_have


def test_extract_fidelity_nonvacuous(spark):
    """Guard against the silent-zero failure mode: if the url template
    reconstruction ever drifted from the wrapper's doc_url, every join
    would go NULL -> fillna(0) and the metric would be all-zero on BOTH
    sides while the oracle compare stayed green.  Require real overlap:
    the extraction keeps the document's own words, so recall must be
    high for essentially every doc."""
    rows = entry_mod.queries()["extract_fidelity"](spark, SF_DIR).collect()
    assert len(rows) == 500
    nonzero = sum(1 for r in rows if r.n_common > 0)
    assert nonzero == 500, f"only {nonzero}/500 docs overlap"
    mean_recall = sum(r.recall for r in rows) / len(rows)
    assert mean_recall > 0.9, mean_recall


def test_sitemap_parse_last_mod_never_null(spark, ddb):
    """A host whose sitemap carries no <lastmod> reports '' — on both
    sides.  `_norm` maps None to the same token for Spark and DuckDB, so
    the hash compare alone cannot catch a NULL cell."""
    spark_rows = entry_mod.queries()["sitemap_parse"](spark, SF_DIR).collect()
    duck_rows = ddb.execute(entry_mod.oracle_sql()["sitemap_parse"]).fetchall()
    assert spark_rows and duck_rows
    assert all(r.last_mod is not None for r in spark_rows)
    assert "" in {r.last_mod for r in spark_rows}
    assert all(None not in row for row in duck_rows)


def test_mojibake_repair_nonvacuous(spark):
    """Guard against the all-ASCII silent pass: the fixture corpus is
    pure ASCII, so without the non-ASCII garnish the garble would be
    the identity and the repair path would never execute while the
    oracle stayed green.  Require the repair to actually fire on every
    row with real multi-byte content (the garnish alone contributes
    2-, 3- and 4-byte sequences: >= 14 marker bytes)."""
    rows = entry_mod.queries()["mojibake_repair"](spark, SF_DIR).collect()
    assert len(rows) == 500
    assert all(r.did_repair for r in rows)
    assert all(r.n_marks >= 14 for r in rows)
    assert all(r.n_chars > r.n_marks for r in rows)


def test_host_template_lines_strips_banner_keeps_organic_dups(spark):
    """The ratio rule must separate site furniture from organic
    duplication: every doc loses EXACTLY its synthesized host banner
    (df == n_docs of the host -> template), while the fixture's
    organic within-host duplicate paragraph (df=2 of ~25 docs, ratio
    0.08) survives — corpus-global line_dedup would have dropped it.
    If the banner synthesis ever drifted between host pages the
    detector would silently keep it and n_kept == n_lines."""
    rows = entry_mod.queries()["host_template_lines"](spark, SF_DIR).collect()
    assert len(rows) == 500
    assert all(r.n_lines - r.n_kept == 1 for r in rows), (
        "every doc must lose exactly its banner line"
    )
