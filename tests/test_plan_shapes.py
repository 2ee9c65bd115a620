"""Physical-plan regression tests: the scale claims in docs/DESIGN.md
("never a cross join", "one shuffle", "filters reach the scan") are
asserted here so a plan regression fails CI, not a 100 TB run.
"""

import pytest

SF_DIR = "/root/testdata/sf0.01"

# every query whose scale path must never degenerate into an all-pairs
# physical join; embedding_near_dup (the documented quadratic oracle
# baseline) is pinned separately — since the round-5 GEMM rewrite even
# it carries no BNLJ, just a narrow Arrow kernel
_NO_CROSS_QUERIES = [
    "minhash_dup_pairs",
    "near_dup_verified",
    "fingerprint_overlap",
    "embedding_near_dup_lsh",
    "jaccard_pairs_host",
    "dup_components_host",
    "ann_lsh",
    "ann_ivf",
    # embedding_knn excluded: its BNLJ is a ONE-ROW broadcast (attaching
    # the query vector to every row) — O(n), not all-pairs
    "pack_sequences",
    "doc_chunks",
    "repetition_stats",
    "contamination_check",
    "dup_spans",
    "dedup_apply_spans",
    "stratified_sample",
    "simhash_dup_pairs",
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", _NO_CROSS_QUERIES)
def test_no_allpairs_join_in_scale_path(spark, name):
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()[name](spark, SF_DIR))
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name


def test_quadratic_baseline_is_gemm_kernel_not_bnlj(spark):
    """embedding_near_dup (the exact oracle twin) was the repo's one
    sanctioned BroadcastNestedLoopJoin until round 5; the block-GEMM
    rewrite made it a single narrow Arrow kernel, so pin the stronger
    invariant: no BNLJ/Cartesian anywhere, pair math in MapInPandas."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["embedding_near_dup"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "MapInPandas" in plan


def test_extraction_filter_pushdown_reaches_scan(spark, tmp_path):
    """A filter on the pages table must appear as a parquet PushedFilters
    entry, and the scan schema must exclude the wide text column."""
    from ocr_pipeline_spark.fixtures.gen_pages import generate_pages_df
    from ocr_pipeline_spark.plans.job import run_extraction

    d = str(tmp_path / "pages")
    generate_pages_df(spark, 50, 42).write.parquet(d)
    pages = spark.read.parquet(d).filter("lang = 'en'")
    plan = _plan(run_extraction(spark, pages, describe=True))
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    assert "text" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_lsh_near_dup_single_exchange(spark):
    """cosine_near_dup_lsh = signatures (narrow) -> ONE exchange on
    (table, sig) -> in-bucket GEMM -> distinct's exchange. No more."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["embedding_near_dup_lsh"](spark, SF_DIR))
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 2, f"{n_exchanges} exchanges:\n{plan[:2000]}"


def test_stratified_sample_single_exchange(spark):
    """Stratified sampling is one stratum-key shuffle + an in-partition
    top-k — never a second exchange or a join."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["stratified_sample"](spark, SF_DIR))
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"{n_exchanges} exchanges:\n{plan[:2000]}"
    assert "Join" not in plan


def test_dedup_apply_spans_no_pair_expansion(spark):
    """Span removal keeps dup_spans' linear shape: gram counting is
    two-phase (partial agg + equi join back on the gram key) and the
    cut is a higher-order filter after a doc-key join — a hot gram
    must cost a counter, never a pair bucket (no
    flatten(transform(transform)) expansion in the plan)."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["dedup_apply_spans"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # exactly two equi joins: gram-groups⋈dup-keys and docs⋈spans
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") <= 2


def test_dup_spans_two_phase_gram_counting(spark):
    """dup_spans' 100-TB contract: gram occurrence counting is
    TWO-PHASE — a partial-aggregated groupBy on the gram key joined
    back — never `count().over(Window.partitionBy(g))`.  A window has
    no map-side partial aggregation and its partition is not
    AQE-splittable, so a boilerplate 8-gram occurring millions of
    times corpus-wide would sit in one reducer's sort buffer.  The
    only windows left are the per-document island merges.  Also pin
    the shared exchange: both consumers of the (g, doc_id) gram-group
    aggregate must reuse ONE exchange (the explode+md5 map stage runs
    once, not once per consumer)."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["dup_spans"](spark, SF_DIR)
    plan = _plan(df)
    assert "windowspecdefinition(doc_id" in plan  # island merge stays
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "windowspecdefinition(doc_id" in line, (
                f"window keyed on the gram stream: {line.strip()[:160]}"
            )
    assert "HashAggregate(keys=[g#" in plan, "gram-key aggregate missing"
    df.collect()
    assert "ReusedExchange" in _plan(df), (
        "gram explode subtree duplicated — shared exchange not reused"
    )


def test_contamination_gram_join_is_broadcast(spark):
    """The eval-set side of the contamination gram join is small by
    construction — the plan must broadcast it, never shuffle the
    corpus gram stream into a sort-merge join."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["contamination_check"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_aqe_splits_skewed_join_partitions(spark):
    """Runtime skew handling, the complement of write-side salting:
    with AQE skew-join on, a join against a Zipf-skewed key set must
    execute with the hot partition SPLIT (the executed plan marks the
    sort-merge join `skew=true`), instead of one straggler task
    carrying the head key."""
    from pyspark.sql import functions as F

    n_hot = 200_000
    left = spark.range(n_hot + 2_000).select(
        F.when(F.col("id") < n_hot, F.lit(7)).otherwise(F.col("id")).alias("k"),
        (F.col("id") % 97).alias("payload"),
    )
    right = spark.range(3_000).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("r")
    )
    prev = {
        "spark.sql.autoBroadcastJoinThreshold":
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor":
            spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionFactor"),
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            spark.conf.get(
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
            ),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes":
            spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # thresholds low enough that the fixture's hot key counts as skewed
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    try:
        joined = left.join(right, "k")
        # materialize THIS DataFrame's own query execution — an agg on
        # top would finalize a different AQE plan and leave this one
        # isFinalPlan=false
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:3000]
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_minhash_pairs_single_kernel_invocation(spark):
    """The star-overflow path must emit its conditional pair array in
    ONE pass — a union of filtered branches duplicates the signature
    kernel subtree in the plan (regression pin: exactly one
    MapInPandas node)."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["minhash_dup_pairs"](spark, SF_DIR))
    assert plan.count("MapInPandas") == 1, plan[:2000]


def test_bm25_stats_broadcast_and_topk_is_takeordered(spark):
    """bm25_search's scale contract: corpus statistics attach via a
    ONE-ROW broadcast (a BNLJ whose build side is a single aggregated
    row — O(n), not all-pairs), the corpus itself never shuffles for
    scoring, and top-k is TakeOrdered, not a global sort."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["bm25_search"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan, plan[:2000]
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]


def test_incremental_dedup_is_antijoin_no_broadcast_of_corpus(spark):
    """incremental_dedup's scale contract: the index side joins as a
    hash anti-join (bucketable at scale), never a CartesianProduct or
    nested-loop over the corpus."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["incremental_dedup"](spark, SF_DIR))
    assert "LeftAnti" in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_classifier_inference_is_map_only(spark):
    """classifier_scores' scale contract: hashed-linear-model inference
    is a pure map over the scan — the ONLY exchange in the plan is the
    final presentation sort (rangepartitioning); no hash shuffle, no
    join, no Python worker."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["classifier_scores"](spark, SF_DIR))
    assert "hashpartitioning" not in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    assert "InPandas" not in plan and "BatchEvalPython" not in plan, (
        plan[:2000]
    )


def test_dsir_bucket_stats_join_is_broadcast(spark):
    """dsir_weights' scale contract: the <=1024-row bucket-stats table
    and the 1-row global-totals scalar both attach via broadcast — the
    gram stream is never shuffled for the weight lookup."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["dsir_weights"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    # single gram pass: bucket stats and the per-doc weighted sum both
    # consume the (doc_id, lang, b) pre-aggregate through ONE exchange
    df.collect()
    assert "ReusedExchange" in _plan(df), (
        "gram explode subtree duplicated — shared exchange not reused"
    )


def test_robots_rules_join_is_broadcast(spark):
    """robots_filter's scale contract: the O(hosts x rules) rule table
    attaches via BroadcastHashJoin — the url frontier never shuffles
    for the policy probe."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["robots_filter"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]


def test_anchor_texts_single_kernel_no_cross(spark):
    """anchor_texts: the generate+parse kernel must NOT be duplicated
    into both aggregation branches — the eager localCheckpoint cuts
    lineage so the final plan reads the materialized anchor frame
    (zero MapInPandas nodes) instead of re-running the kernel per
    branch; joins are keyed, never all-pairs."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["anchor_texts"](spark, SF_DIR))
    assert "MapInPandas" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_pdf_layout_markdown_is_fused_map(spark):
    """pdf_layout_markdown: generate/parse/reconstruct fused in ONE
    mapInPandas, no joins, no hash shuffle (only the presentation
    sort)."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["pdf_layout_markdown"](spark, SF_DIR))
    assert plan.count("MapInPandas") == 1, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    assert "hashpartitioning" not in plan, plan[:2000]


def test_host_pagerank_final_plan_reads_checkpoints(spark):
    """host_pagerank's lineage-cut contract (the same one anchor_texts
    pins): after the per-iteration localCheckpoints, the final plan
    reads materialized frames — the link-extraction kernel must NOT
    reappear (no MapInPandas), or every action would re-run it per
    consumer branch."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["host_pagerank"](spark, SF_DIR))
    assert "MapInPandas" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]


def test_cdx_index_is_narrow_plus_range_sort(spark):
    """cdx_index (X54) must stay pure narrow JVM expressions: the only
    exchange is the rangepartitioning for the global (surt_key, ts)
    index order — no hash shuffle, no join, no Python."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["cdx_index"](spark, SF_DIR))
    assert "MapInPandas" not in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    assert "hashpartitioning" not in plan, plan[:2000]
    assert "rangepartitioning" in plan, plan[:2000]


def test_frontier_schedule_single_host_shuffle(spark):
    """frontier_schedule (X56): the schedule is computed BY the
    host-keyed shuffle the fetcher needs anyway — exactly one hash
    exchange (on host), no join, no Python."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["frontier_schedule"](spark, SF_DIR))
    assert plan.count("hashpartitioning") == 1, plan[:2000]
    assert "hashpartitioning(host" in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    assert "MapInPandas" not in plan, plan[:2000]


def test_corpus_curation_two_shuffles_with_partial_pruning(spark):
    """corpus_curation (X55): exactly two keyed hash exchanges (content
    hash, then lang), the dedup aggregate is partial (map-side combine
    collapses dup content before the shuffle), the filter is pushed to
    the parquet scan, and the 40/lang quota prunes map-side via
    WindowGroupLimit Partial BEFORE the language exchange."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["corpus_curation"](spark, SF_DIR))
    assert plan.count("hashpartitioning") == 2, plan[:3000]
    assert "partial_min" in plan, plan[:3000]
    assert "GreaterThanOrEqual(n_chars,120)" in plan, plan[:3000]
    # the Partial WindowGroupLimit must sit below (after in toString
    # order) the lang exchange, pruning rows before they shuffle
    assert "row_number(), 40, Partial" in plan, plan[:3000]
    assert "Exchange hashpartitioning(lang" in plan, plan[:3000]
    partial = plan.index("row_number(), 40, Partial")
    lang_exchange = plan.index("Exchange hashpartitioning(lang")
    assert partial > lang_exchange, plan[:3000]
    assert "Join" not in plan, plan[:3000]


def test_page_metadata_is_map_only(spark):
    """page_metadata (X57): five short strings per url projected off
    the (url, html) scan — the ONLY exchange is the presentation sort;
    no hash shuffle, no join, one Arrow kernel chain (the head wrap +
    the metadata walk), exactly the plan that scales to 10^12 pages."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["page_metadata"](spark, SF_DIR))
    assert "hashpartitioning" not in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    assert "MapInPandas" in plan, plan[:2000]


def test_extract_fidelity_partial_aggs_no_cross(spark):
    """extract_fidelity (X58): both token streams collapse through
    map-side partial HashAggregates before any exchange (hot tokens
    never flood a reducer), the multiset intersection is an equi-join
    on (url, tok) — never a per-pair comparison."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["extract_fidelity"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    # partial aggregate on the (url, tok) gram keys, map-side
    assert "partial_count" in plan or "count(1)" in plan, plan[:3000]
    assert "HashAggregate" in plan, plan[:2000]


def test_text_normalize_is_map_only(spark):
    """text_normalize (X59): narrow Arrow kernel over (doc_id, text);
    no hash shuffle, no join — same scale shape as lang_pred."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["text_normalize"](spark, SF_DIR))
    assert "hashpartitioning" not in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    assert "MapInPandas" in plan, plan[:2000]


def test_fuzzy_decontamination_broadcast_bipartite(spark):
    """fuzzy_decontamination (X60): the eval side (band table + texts)
    is BROADCAST and the corpus is never self-joined — candidates come
    from broadcast hash joins only; no intra-bucket pair expansion, no
    cartesian, and the only hash exchange is the candidate distinct."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["fuzzy_decontamination"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan, plan[:2000]
    # no collect_list bucket grouping (that's the self-join path)
    assert "collect_list" not in plan, plan[:2000]


def test_dedup_soft_weights_aggregate_not_window(spark):
    """dedup_soft_weights (X62): cluster sizing must be a partial-agg
    groupBy over the (id, component) labels — never a count() window
    (no map-side combine, hot-cluster straggler at scale) — and the
    final corpus attach is a left join on the id, so no Window node
    appears anywhere in the plan."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["dedup_soft_weights"](spark, SF_DIR))
    assert "Window" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "partial_count" in plan or "partial count" in plan.lower(), (
        plan[:3000]
    )


def test_url_canonical_dedup_jvm_only_single_agg(spark):
    """url_canonical_dedup (X63): the canonicalizer is pure JVM string/
    array expressions — no Python eval node of any kind — and the
    retention is ONE partial-aggregated groupBy (map-side max(struct)
    collapse), never a Window over raw captures."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["url_canonical_dedup"](spark, SF_DIR))
    assert "Window" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, plan[:2000]
    assert "partial_" in plan or "partial " in plan.lower(), plan[:3000]


def test_host_url_hll_tiny_aggs_no_python(spark):
    """host_url_hll (X64): the sketch path must be pure JVM — no
    Python eval node — with partial aggregation on (host, reg) so at
    most 64 rows per host cross the wire, and no Window/cartesian
    anywhere (the url strings themselves must never be sorted or
    windowed)."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["host_url_hll"](spark, SF_DIR))
    assert "Window" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, plan[:2000]
    assert "partial_max" in plan or "partial max" in plan.lower(), (
        plan[:3000]
    )


def test_heavy_hitters_cms_broadcast_sketch(spark):
    """heavy_hitters_cms (X65): the only corpus-sized shuffle is the
    token groupBy (partial count map-side); the 1024-cell sketch and
    the 1-row token-mass total attach via BROADCAST joins, never a
    shuffled join or a window."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["heavy_hitters_cms"](spark, SF_DIR))
    assert "Window" not in plan, plan[:2000]
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, plan[:2000]
    assert "Broadcast" in plan, plan[:3000]
    assert "partial_count" in plan or "partial count" in plan.lower(), (
        plan[:3000]
    )
    # the sketch/estimate joins must not shuffle the term table by
    # (j, bucket): no SortMergeJoin anywhere in this plan
    assert "SortMergeJoin" not in plan, plan[:3000]


def test_containment_pairs_single_block_shuffle(spark):
    """containment_pairs (X66): one FlatMapGroupsInPandas kernel over
    the host block key — exactly one hash exchange feeding it, no
    cartesian product, no Window, no per-row Python eval."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["containment_pairs"](spark, SF_DIR))
    assert "FlatMapGroupsInPandas" in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]
    assert "BatchEvalPython" not in plan, plan[:2000]


def test_wet_export_single_shard_shuffle(spark):
    """wet_export (X61): extraction map-only, then exactly ONE hash
    exchange (the content-addressed shard groupBy) before the
    grouped-map container build; no join anywhere."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["wet_export"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]
    assert "Join" not in plan, plan[:3000]
    assert "FlatMapGroupsInPandas" in plan, plan[:2000]


def test_gopher_rules_is_map_only(spark):
    """gopher_rules (X67): the whole rule vector is one narrow JVM
    projection fused into the scan — no Python eval node, no join, no
    window, no hash shuffle (only the presentation range sort)."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["gopher_rules"](spark, SF_DIR))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]
    assert "hashpartitioning" not in plan, plan[:2000]


def test_seq_len_buckets_partial_agg_constant_reduce(spark):
    """seq_len_buckets (X68): one partial-aggregated groupBy over a
    ~40-value bucket key — map-side combine collapses the corpus to a
    constant-size frame before the exchange; pure JVM, no window, no
    join."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["seq_len_buckets"](spark, SF_DIR))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]
    assert "partial_count" in plan or "partial count" in plan.lower(), (
        plan[:3000]
    )


def test_bloom_dedup_probe_bit_join_is_broadcast(spark):
    """bloom_dedup_probe (X69): the bit set is bounded by m*k = 262144
    rows regardless of corpus size, so the probe-side membership join
    must be a BROADCAST hash join — never a shuffled join keyed on
    (j, pos) — and nothing in the plan is cartesian, windowed, or
    per-row Python."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["bloom_dedup_probe"](spark, SF_DIR))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan, plan[:3000]


def test_link_spam_single_kernel_on_host_frame(spark):
    """link_spam (X70): the page->host link kernel runs ONCE (single
    consumer branch), and every window/agg runs over the
    host-aggregated edge frame — never page-level links; no cartesian,
    no per-row Python."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["link_spam"](spark, SF_DIR))
    # one generator node + one link kernel node in a single linear
    # branch; the KERNEL must appear exactly once (no per-branch rerun)
    assert plan.count("MapInPandas kernel") == 1, plan[:3000]
    assert plan.count("MapInPandas") <= 2, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BatchEvalPython" not in plan, plan[:2000]


def test_hits_step_no_kernel_rerun_no_cross(spark):
    """hits_step (X71): the checkpointed edge frame feeds nodes/auth/
    hub — the link kernel must not be duplicated per consumer branch
    (same lineage-cut contract as host_pagerank/anchor_texts), and the
    transpose-multiply is keyed joins + partial aggs, never a
    cartesian or a window."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["hits_step"](spark, SF_DIR))
    assert plan.count("MapInPandas") <= 1, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]


def test_robots_parse_windows_bounded_by_file_not_corpus(spark):
    """robots_parse (X72): the stateful REP group assignment is a
    per-host window over robots.txt LINES (bounded by the spec's
    500 KiB file cap, never corpus size); everything is JVM string
    expressions — no Python eval node, no cartesian join."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["robots_parse"](spark, SF_DIR))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_embedding_outliers_broadcast_centroids_partial_sums(spark):
    """embedding_outliers (X73): per-dim centroid sums are a
    partial-aggregated group-by on (label, dim) — the corpus collapses
    to n_labels*64 rows map-side — and the rebuilt centroids attach to
    the vectors via a BROADCAST join; the cosine fold is pure JVM."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["embedding_outliers"](spark, SF_DIR))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "partial_sum" in plan or "partial sum" in plan.lower(), (
        plan[:3000]
    )


def test_mojibake_repair_is_narrow_kernel(spark):
    """mojibake_repair (X74): one Arrow kernel over the scan — no
    shuffle besides the presentation range sort, no join, no window;
    the text column never crosses an exchange (only md5 + counters
    leave the kernel)."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["mojibake_repair"](spark, SF_DIR))
    assert plan.count("MapInPandas") == 1, plan[:3000]
    assert "Join" not in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]
    assert "Exchange hashpartitioning" not in plan, plan[:3000]


def test_host_template_lines_partial_agg_broadcast_hostdocs(spark):
    """host_template_lines (X75): the (host, line-hash) frequency is a
    partial-aggregated group-by (hot template lines collapse map-side),
    host page-counts attach by BROADCAST join, and nothing is
    cartesian, windowed, or Python — the whole operator is JVM
    expressions."""
    import __spark_entry__ as entry_mod

    plan = _plan(
        entry_mod.queries()["host_template_lines"](spark, SF_DIR)
    )
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "partial_count" in plan or "partial count" in plan.lower(), (
        plan[:3000]
    )


def test_sitemap_parse_narrow_parse_partial_agg(spark):
    """sitemap_parse (X77): synthesis + regexp parse must be a narrow
    JVM map (no Python eval nodes), and the per-host rollup must carry
    a map-side partial aggregation so hot hosts collapse before the
    exchange.  Nothing is windowed or cartesian."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["sitemap_parse"](spark, SF_DIR))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]
    assert "partial_count" in plan or "partial count" in plan.lower(), (
        plan[:3000]
    )


def test_c4_filters_pure_map_no_exchange(spark):
    """c4_filters (X78): the whole rule chain (line split, per-line
    filters, page predicates, md5 witness) must be one narrow JVM
    higher-order-function map over the scan — zero hash exchanges,
    no Python eval nodes, no Window; the only exchange allowed is the
    presentation sort's range partitioning."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["c4_filters"](spark, SF_DIR))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "Exchange hashpartitioning" not in plan, plan[:3000]


def test_phrase_search_broadcast_pruned_positional_join(spark):
    """phrase_search (X76): the positional join must touch only
    postings of the queried words — the token stream is pruned by a
    BROADCAST join against the 5-row phrase frame before any keyed
    join — and the top-k phrase selection is a TakeOrdered, never a
    global sort of the bigram vocabulary.  Nothing is cartesian,
    windowed, or Python."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["phrase_search"](spark, SF_DIR))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "TakeOrderedAndProject" in plan, plan[:3000]
