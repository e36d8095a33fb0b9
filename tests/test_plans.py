"""Physical-plan assertions — scale guardrails (SURVEY §7 M6).

These tests pin the plan shapes that matter at 100 TB: predicate
pushdown into the parquet scan, column pruning, broadcast joins for
dimensions, and no accidental single-partition exchanges on data
paths. A green correctness suite with a wrong plan is a latent
100×-slowdown; these make plan regressions loud.
"""

from __future__ import annotations

from mindseye_dataframes_spark.queries import load_all
from tests.helpers import formatted_plan

REGISTRY = load_all()


def plan_of(spark, sf_dir, name: str) -> str:
    return REGISTRY[name].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def explain_formatted(spark, sf_dir, name: str) -> str:
    return formatted_plan(REGISTRY[name].fn(spark, sf_dir))


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = explain_formatted(spark, sf_dir, "q02_filter_project")
    assert "PushedFilters:" in plan
    # the selective predicates must be pushed, not applied post-scan only
    assert "l_returnflag" in plan.split("PushedFilters:")[1].splitlines()[0]


def test_column_pruning_q01(spark, sf_dir):
    plan = explain_formatted(spark, sf_dir, "q01_pricing_summary")
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema  # unused columns pruned
    assert "l_quantity" in read_schema


def test_dimension_joins_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q05_revenue_by_region")
    assert plan.count("BroadcastHashJoin") >= 3  # customer/nation/region
    assert "CartesianProduct" not in plan


def test_semi_anti_join_strategies(spark, sf_dir):
    semi = plan_of(spark, sf_dir, "q08_semi_join")
    anti = plan_of(spark, sf_dir, "q09_anti_join")
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_no_single_partition_exchange_on_data_paths(spark, sf_dir):
    """Windows/aggregations must not funnel data through one partition
    (the classic unpartitioned-Window trap)."""
    for name in ("q16_window_topn", "q18_running_sum", "q25_sessionization"):
        plan = plan_of(spark, sf_dir, name)
        body = plan.split("AdaptiveSparkPlan")[-1]
        # final global sort for presentation is fine; data-path windows
        # must be hash-partitioned
        assert "Window" in plan
        for line in body.splitlines():
            if "Window" in line and "windowspecdefinition" in line:
                assert "SinglePartition" not in line, (name, line)


def test_topk_uses_limit_not_full_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q04_topk_orders")
    assert "TakeOrderedAndProject" in plan  # per-partition top-k + merge


def test_asof_join_single_shuffle(spark, sf_dir):
    """The as-of join must stay union+window shaped: no range/cross
    join blowup."""
    plan = plan_of(spark, sf_dir, "q22_asof_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path_factory):
    """Two tables bucketed by the join key (same count) must sort-merge
    join with ZERO shuffle exchanges — the co-located-join layout that
    removes the dominant per-query shuffle at 100 TB."""
    from mindseye_dataframes_spark.sources.bucketing import read_table, write_bucketed
    from mindseye_dataframes_spark.sources.readers import load_table

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    write_bucketed(orders, "t_orders_b", ["o_orderkey"], 8)
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "t_lineitem_b",
        ["o_orderkey"],
        8,
    )
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = read_table(spark, "t_lineitem_b").join(
                read_table(spark, "t_orders_b"), "o_orderkey"
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, plan
            # and it actually runs
            assert joined.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_ivf_probe_join_broadcasts_queries(spark, sf_dir):
    """q60: the probe side (queries x n_probe cells) must broadcast —
    the corpus never shuffles for an ANN lookup."""
    plan = plan_of(spark, sf_dir, "q60_ann_ivf_topk")
    assert "BroadcastHashJoin" in plan


def test_lang_id_is_single_aggregate(spark, sf_dir):
    """q58: language-ID is scan → partial agg → one exchange → final
    agg; no join, no extra shuffle from the scoring expressions."""
    plan = plan_of(spark, sf_dir, "q58_language_id")
    assert "Join" not in plan
    # exactly one shuffle for the groupBy (plus the orderBy range
    # exchange at the sink — tolerated); never more
    assert plan.count("Exchange hashpartitioning") <= 1


def test_cube_rollup_grouping_sets_single_exchange(spark, sf_dir):
    """The grouping-set lattice must be ONE Expand + one partial/final
    hash-agg pair (one hash exchange); a per-set union-of-aggregates
    shape would scan the fact table once per set at 100 TB."""
    for name in ("q15_rollup", "q47_cube", "q59_grouping_sets"):
        plan = plan_of(spark, sf_dir, name)
        assert "Expand" in plan, name
        assert plan.count("Exchange hashpartitioning") <= 1, (name, plan)


def test_pivot_is_single_aggregate(spark, sf_dir):
    """q57: conditional-aggregation pivot = one scan, one hash-agg
    pair, no distinct-values pre-job and no join."""
    plan = plan_of(spark, sf_dir, "q57_pivot")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_format_roundtrips_scan_shaped(spark, sf_dir):
    """Round-trips must stay scan → sort-for-presentation: no shuffle
    beyond the final orderBy's range exchange, no inference pass
    (schema is supplied), and ORC scans keep columnar batches."""
    for name in ("q68_csv_roundtrip", "q69_json_roundtrip", "q72_orc_roundtrip"):
        plan = plan_of(spark, sf_dir, name)
        assert "Exchange hashpartitioning" not in plan, (name, plan)
        assert "Join" not in plan, name
    orc = explain_formatted(spark, sf_dir, "q72_orc_roundtrip")
    assert "ColumnarToRow" in orc or "Scan orc" in orc


def test_percentiles_single_pass(spark, sf_dir):
    """q46: exact percentiles are one aggregate pass, not a sort of
    the whole table per group."""
    plan = plan_of(spark, sf_dir, "q46_percentiles")
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_scalar_subquery_decorrelated(spark, sf_dir):
    """q70: Catalyst must decorrelate the per-row scalar subqueries
    into per-brand aggregates joined back (broadcast — brand
    cardinality is tiny at any scale); a correlated re-execution or
    nested-loop shape would be quadratic at 100 TB."""
    plan = plan_of(spark, sf_dir, "q70_scalar_subquery")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_training_layout_no_single_partition_window(spark, sf_dir):
    """q81/q82 use the two-phase distributed scan — any data-path
    window must be hash-partitioned by the frozen range partition id,
    never SinglePartition."""
    for name in ("q81_pack_sequences", "q82_seeded_shuffle"):
        plan = plan_of(spark, sf_dir, name)
        body = plan.split("AdaptiveSparkPlan")[-1]
        for line in body.splitlines():
            if "Window" in line and "windowspecdefinition" in line:
                assert "SinglePartition" not in line, (name, line)


def test_mixture_sample_broadcasts_rates(spark, sf_dir):
    """The rates relation is tiny → broadcast join; the fact table
    must not hash-shuffle (presentation sort is the only exchange)."""
    plan = plan_of(spark, sf_dir, "q83_mixture_sample")
    assert "BroadcastHashJoin" in plan
    body = plan.split("AdaptiveSparkPlan")[-1]
    assert "hashpartitioning" not in body


def test_ngram_inverted_index_is_equi_join(spark, sf_dir):
    """Posting-list candidate generation must stay an equi-join on the
    gram — a nested-loop/cartesian here is the O(n²) failure mode the
    inverted index exists to avoid."""
    plan = plan_of(spark, sf_dir, "q80_ngram_jaccard_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_verify_join_keeps_user_numbered_repartition(spark, sf_dir):
    """The candidate-pair relation feeding the verify join is
    byte-small but each row does O(|grams|) intersection work, so
    spread_for_compute pins a user-NUMBERED repartition there —
    exempt from AQE size-based coalescing, which would otherwise
    serialize the verify onto one core (the q213 cold-path guard).
    The pin: a REPARTITION_BY_NUM shuffle origin must survive into
    both n-gram pair plans."""
    for name in ("q80_ngram_jaccard_pairs", "q213_ngram_containment_pairs"):
        plan = plan_of(spark, sf_dir, name)
        assert "REPARTITION_BY_NUM" in plan, name


def test_video_frame_sample_is_pure_map(spark, sf_dir):
    """Frame sampling is a map over payload partitions — no
    hash-partition exchange anywhere in the plan."""
    plan = plan_of(spark, sf_dir, "q84_video_frame_sample")
    body = plan.split("AdaptiveSparkPlan")[-1]
    assert "hashpartitioning" not in body


def test_zip_sampled_path_no_cache_no_range_exchange(spark, sf_dir):
    """Scan-backed zips must take the sampled-boundary path: no
    persisted snapshot (InMemoryTableScan) and no RangePartitioning
    exchange — bucket ids are pure expressions, so the only wide cost
    is the hashpartitioning shuffle for the local rank."""
    plan = plan_of(spark, sf_dir, "q13_zip_positional")
    assert "InMemoryTableScan" not in plan
    assert "rangepartitioning" not in plan.lower()


def test_zip_index_join_has_a_fixed_strategy(spark, sf_dir):
    """The generic zip's final join on the row index is a sort-merge
    join. Left to AQE, the small-input join would broadcast whichever
    indexed frame's stage finishes first, so q13 would run one of two
    executed plans from pass to pass."""
    plan = plan_of(spark, sf_dir, "q13_zip_positional")
    top_join = next(line for line in plan.splitlines() if "Join" in line)
    assert "SortMergeJoin" in top_join and "_zip_index" in top_join, plan


def test_zip_persist_path_for_expensive_upstream(spark):
    """A join-shaped upstream must fall back to the persisted-range
    path instead of recomputing the join three times."""
    from mindseye_dataframes_spark.operators.zip_frames import (
        _rescan_cheap,
        with_row_index,
    )

    a = spark.range(100).withColumnRenamed("id", "k")
    b = spark.range(100).withColumnRenamed("id", "k")
    joined = a.join(b, "k")
    assert not _rescan_cheap(joined)
    assert _rescan_cheap(a.filter("k > 3").select("k"))
    out = with_row_index(joined, ["k"], index_col="rid")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan  # persisted snapshot reused
    rows = {r["k"]: r["rid"] for r in out.collect()}
    assert rows == {k: k for k in range(100)}


def test_pii_redaction_is_pure_map(spark, sf_dir):
    """q86 must stay a narrow codegen map over the scan — no joins, no
    aggregates, no Python workers (regexp work is JVM-side)."""
    plan = plan_of(spark, sf_dir, "q86_pii_redaction")
    for bad in ("Join", "HashAggregate", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan


def test_contamination_screen_broadcasts_benchmark(spark, sf_dir):
    """q87: the benchmark shingle set is small by definition — the
    corpus side must never shuffle for the join."""
    plan = plan_of(spark, sf_dir, "q87_contamination_screen")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_chunking_is_generate_no_join(spark, sf_dir):
    """q88: chunking is generate+project over the scan — row-local,
    shuffle only for the final presentation sort."""
    plan = plan_of(spark, sf_dir, "q88_chunk_documents")
    assert "Generate" in plan  # explode(sequence(...))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_vector_features_no_python_udf(spark, sf_dir):
    """q90: higher-order array lambdas must run JVM-side."""
    plan = plan_of(spark, sf_dir, "q90_vector_features")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan


def test_binned_interval_join_is_hash_join(spark, sf_dir):
    """q92's reason to exist: the interval join must plan as an
    equi-join (hash/sort-merge on (user_id, bin)), never as the
    O(n*m) BroadcastNestedLoopJoin the naive theta-join produces."""
    plan = plan_of(spark, sf_dir, "q92_binned_interval_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_distinctive_terms_broadcasts_df_side(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q94_distinctive_terms")
    assert "BroadcastHashJoin" in plan


def test_histogram_minmax_is_broadcast_scalar(spark, sf_dir):
    """q95: the global min/max is a 1-row broadcast, not a shuffle of
    the fact side against itself."""
    plan = plan_of(spark, sf_dir, "q95_price_histogram")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_latest_per_key_single_exchange(spark, sf_dir):
    """q96 CDC compaction: one hash exchange for the window, plus the
    presentation sort — nothing else."""
    plan = plan_of(spark, sf_dir, "q96_latest_per_key")
    assert plan.count("Exchange hashpartitioning") == 1


def test_zorder_is_map_plus_single_aggregate(spark, sf_dir):
    """q97: morton coding must stay inside whole-stage codegen — one
    hash-aggregate exchange, no joins, no Python."""
    plan = plan_of(spark, sf_dir, "q97_zorder_layout")
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_gap_fill_grid_sides_broadcast(spark, sf_dir):
    """q98: the user×day grid is built from broadcast tiny sides; the
    only full-data hash exchange feeds the per-user window."""
    plan = plan_of(spark, sf_dir, "q98_gap_fill")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # tiny days side, by design


def test_scd2_single_exchange(spark, sf_dir):
    """q100: both window functions share one per-user exchange+sort."""
    plan = plan_of(spark, sf_dir, "q100_scd2_intervals")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 1  # lead+row_number fused in one node


def test_partitioned_layout_partition_pruning(spark, sf_dir, tmp_path_factory):
    """Hive-partitioned writes must prune at the scan: a filter on the
    partition column becomes PartitionFilters (footer-less skip of
    other partitions), not a post-scan Filter over everything — the
    mechanism that makes partitioned layouts pay off at 100 TB."""
    from mindseye_dataframes_spark.sources.readers import load_table

    out = str(tmp_path_factory.mktemp("part_layout") / "events_by_type")
    load_table(spark, sf_dir, "events").write.partitionBy("event_type").mode(
        "overwrite"
    ).parquet(out)

    df = spark.read.parquet(out).filter("event_type = 'click'")
    plan = df.sparkSession._jsparkSession.sessionState().executePlan(
        df._jdf.queryExecution().logical(),
        df._jdf.queryExecution().mode(),
    ).explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "event_type" in seg
    # row-level pushed filters must NOT carry the partition predicate
    assert df.count() > 0


def test_quality_gate_single_aggregate_pass(spark, sf_dir):
    """q108: N checks must cost exactly one scan + one aggregate —
    never one job per check."""
    plan = plan_of(spark, sf_dir, "q108_quality_gate")
    assert plan.count("FileScan") == 1
    assert "Join" not in plan


def test_zordered_write_produces_tight_file_rectangles(spark, sf_dir, tmp_path_factory):
    """write_zordered: each output file's (partkey, suppkey) bounding
    rectangle must cover far less than the full key space — the
    data-skipping property that makes Z-order worth the sort. Checked
    against the actual written files' per-file min/max."""
    from pyspark.sql import functions as F

    from mindseye_dataframes_spark.sources.readers import load_table
    from mindseye_dataframes_spark.sources.sinks import write_zordered

    out = str(tmp_path_factory.mktemp("zorder") / "lineitem_z")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    write_zordered(li, out, ["l_partkey", "l_suppkey"], files=8)

    stats = (
        spark.read.parquet(out)
        .withColumn("file", F.input_file_name())
        .groupBy("file")
        .agg(
            (F.max("l_partkey") - F.min("l_partkey")).alias("dp"),
            (F.max("l_suppkey") - F.min("l_suppkey")).alias("ds"),
        )
        .collect()
    )
    assert len(stats) >= 4  # actually split into multiple files
    full = li.agg(
        (F.max("l_partkey") - F.min("l_partkey")).alias("dp"),
        (F.max("l_suppkey") - F.min("l_suppkey")).alias("ds"),
    ).collect()[0]
    # average file rectangle area must be a small fraction of the
    # full key-space area (here: < 30% — random placement would be ~100%)
    areas = [max(1, r["dp"]) * max(1, r["ds"]) for r in stats]
    frac = (sum(areas) / len(areas)) / (max(1, full["dp"]) * max(1, full["ds"]))
    assert frac < 0.30, frac


def _assert_no_blowup(plan: str):
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_remaining_new_queries_plan_shapes(spark, sf_dir):
    """Batch guardrails: every round-3 query keeps its intended scale
    shape — no nested-loop/cartesian anywhere, window/agg queries at
    exactly one data exchange."""
    one_exchange = {
        "q89_corpus_extremes",
        "q93_trailing_anomaly",
        "q96_latest_per_key",
        "q109_debounce",
    }
    for name in one_exchange:
        plan = plan_of(spark, sf_dir, name)
        _assert_no_blowup(plan)
        assert plan.count("Exchange hashpartitioning") == 1, name

    for name in (
        "q99_merge_upsert",
        "q104_nullsafe_join",
        "q110_ordered_funnel",
        "q111_incremental_agg",
        "q105_twap",
    ):
        _assert_no_blowup(plan_of(spark, sf_dir, name))

    # unpivot is an Expand, never a shuffle of its own
    plan = plan_of(spark, sf_dir, "q103_unpivot_metrics")
    assert "Expand" in plan
    _assert_no_blowup(plan)


def test_edit_join_is_segment_equi_join(spark, sf_dir):
    """q102's PassJoin must stay an equi-join on segment keys (never a
    cartesian/theta blowup): in-block quadratic comparison is exactly
    what the operator exists to avoid. The short-string fallback's
    exhaustive join is keyed on blk, so it is also hash, not nested
    loop over everything."""
    plan = plan_of(spark, sf_dir, "q102_fuzzy_name_match")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    )


def test_embedding_normalize_single_agg_broadcast_stats(spark, sf_dir):
    """q114: one hash-aggregate over (label, dim) and a broadcast
    stats join — the stats side is labels × dims, always tiny. A
    shuffled stats join or a second full-data aggregate would be a
    100× regression at scale."""
    plan = plan_of(spark, sf_dir, "q114_embedding_normalize")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # exactly one aggregation pair (partial + final) over the exploded data
    assert plan.count("HashAggregate") == 2


def test_round4_queries_plan_shapes(spark, sf_dir):
    """Round-4 guardrails. The intentional cross joins are 1-row
    totals/prior broadcasts (q118/q126/q130) — everything else must be
    hash-join shaped; top-K queries must TakeOrdered, never globally
    sort; doc-local queries must not shuffle at all."""
    # zero-shuffle scan-speed queries (row-local computation only)
    for name in ("q116_gopher_quality", "q117_repetition_ratio",
                 "q127_int8_quantize"):
        plan = plan_of(spark, sf_dir, name)
        _assert_no_blowup(plan)
        assert "Exchange hashpartitioning" not in plan, name

    # top-K via distributed TakeOrdered, not a global sort + filter
    for name in ("q118_pmi_collocations", "q119_vocab_oov_rate",
                 "q125_copurchase_degrees"):
        plan = plan_of(spark, sf_dir, name)
        assert "TakeOrderedAndProject" in plan, name

    # graph + behavioral joins stay hash-shaped (the only nested-loop
    # allowed is a 1-row totals/prior broadcast cross join)
    for name in ("q120_simhash_hamming_pairs", "q121_retention_cohorts",
                 "q122_last_touch_attribution", "q124_stratified_exact_sample",
                 "q129_salted_hot_agg", "q131_group_split"):
        _assert_no_blowup(plan_of(spark, sf_dir, name))

    # q126's closing joins are equi-joins; its single cross join is
    # the two 1-row aggregates combining into the output row
    plan = plan_of(spark, sf_dir, "q126_triangle_count")
    assert "CartesianProduct" not in plan


def test_round4b_queries_plan_shapes(spark, sf_dir):
    """Guardrails for the q141-q147 batch: hash-join shapes only,
    bounded fan-outs, TakeOrdered for top-K."""
    # Bloom prefilter: every probe lookup must be a broadcast hash
    # join (the whole point is never shuffling the fact side before
    # the prune) and the closing join stays hash-shaped.
    plan = plan_of(spark, sf_dir, "q141_bloom_prefilter_join")
    _assert_no_blowup(plan)
    assert plan.count("BroadcastHashJoin") >= 2  # one per bloom probe

    # EWMA / frontier: per-key windows, exactly one data exchange
    for name in ("q142_ewma_smoothing", "q143_pareto_frontier"):
        plan = plan_of(spark, sf_dir, name)
        _assert_no_blowup(plan)
        assert "Exchange hashpartitioning" in plan, name
        assert "Exchange SinglePartition" not in plan.split("Sort")[0], name

    # fingerprint: pure scan + aggregate, no join at all
    plan = plan_of(spark, sf_dir, "q144_table_fingerprint")
    assert "Join" not in plan
    _assert_no_blowup(plan)

    # rolling actives + pagerank: bounded fan-out equi-joins
    for name in ("q145_rolling_active_users", "q146_pagerank_fixed_point"):
        _assert_no_blowup(plan_of(spark, sf_dir, name))

    # BPE pairs: generation is row-local; the only exchange is the
    # pair count, and top-30 goes through TakeOrdered
    plan = plan_of(spark, sf_dir, "q147_bpe_pair_counts")
    _assert_no_blowup(plan)
    assert "TakeOrderedAndProject" in plan


def test_bloom_prefilter_has_no_false_negatives(spark):
    """Operator-level contract: every key present in the build side
    survives the prefilter (Bloom filters may pass extra rows, never
    drop true ones) — checked on adversarial keys (negatives, 0,
    int64 extremes)."""
    from mindseye_dataframes_spark.operators.bloom import (
        bloom_build,
        bloom_prefilter,
    )

    keys = [-(2**62), -7, 0, 1, 63, 64, 65, 2**31, 2**62, 42]
    build = spark.createDataFrame([(k,) for k in keys], "k long")
    probe = spark.createDataFrame(
        [(k,) for k in keys + list(range(1000, 1200))], "k long"
    )
    bloom = bloom_build(build, "k", n_bits=1 << 12)
    kept = {r.k for r in bloom_prefilter(probe, "k", bloom).collect()}
    assert set(keys) <= kept


def test_round4c_queries_plan_shapes(spark, sf_dir):
    """Guardrails for the q148-q152 batch."""
    # lift: the only cross joins are 1-row boundary/totals broadcasts
    plan = plan_of(spark, sf_dir, "q148_price_decile_lift")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan

    # paths + dup matrix + shard balance: hash shapes only
    for name in ("q149_session_paths", "q150_cross_source_dup_matrix",
                 "q151_shard_balance"):
        _assert_no_blowup(plan_of(spark, sf_dir, name))

    # top-20 paths via TakeOrdered, not a global sort
    assert "TakeOrderedAndProject" in plan_of(spark, sf_dir, "q149_session_paths")

    # gap percentiles: one window exchange, one agg, no joins
    plan = plan_of(spark, sf_dir, "q152_gap_percentiles")
    assert "Join" not in plan
    _assert_no_blowup(plan)


def test_round4d_queries_plan_shapes(spark, sf_dir):
    """Guardrails for q153-q156: totals stay 1-row broadcasts,
    everything else hash-shaped; the HLL rolling union must not
    revisit raw rows (one raw-data aggregate only)."""
    plan = plan_of(spark, sf_dir, "q153_join_key_skew_profile")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan

    for name in ("q154_incremental_corpus_dedup", "q155_cohort_ltv_curve"):
        _assert_no_blowup(plan_of(spark, sf_dir, name))

    # the rolling union aggregates sketches, not users: the events
    # scan must feed exactly one aggregation pair (the daily sketch)
    plan = plan_of(spark, sf_dir, "q156_rolling_hll_wau")
    _assert_no_blowup(plan)


def test_round4e_queries_plan_shapes(spark, sf_dir):
    """q158/q159: the end-to-end dedup composition stays equi-join
    shaped through all stages; the integrity audit broadcasts its
    dimension parents."""
    plan = plan_of(spark, sf_dir, "q158_dedup_pipeline_end_to_end")
    _assert_no_blowup(plan)

    plan = plan_of(spark, sf_dir, "q159_referential_integrity")
    _assert_no_blowup(plan)
    assert plan.count("BroadcastHashJoin") >= 4  # all parents but orders


def test_round5_queries_plan_shapes(spark, sf_dir):
    """Guardrails for q163-q166 (round 5).

    q163 SemDeDup: the quadratic pass must be confined to clusters —
    an equi-join on cell id, never a cartesian over the corpus; the
    centroid assignment is literal expressions, so no extra join for
    it either. q164/q165/q166: hash shapes only, totals as 1-row
    broadcasts (BroadcastNestedLoopJoin is legal ONLY for those
    1-row crossJoin totals, so assert the hash join is present
    rather than blanket-banning BNLJ)."""
    plan = plan_of(spark, sf_dir, "q163_semdedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the quadratic pass runs inside one grouped Arrow stage keyed by
    # cell — exactly one shuffle of the vectors, no pair join at all
    assert "FlatMapGroupsInPandas" in plan
    assert "hashpartitioning(_cell" in plan

    plan = plan_of(spark, sf_dir, "q164_topp_quality_curation")
    assert "Join" not in plan  # score → window → rollup, no joins at all
    _assert_no_blowup(plan)

    # q165/q166 cross-join a 1-row totals frame (broadcast by
    # construction); everything else must stay hash-shaped
    for name in ("q165_source_divergence", "q166_temperature_mixture"):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name

    # q167: the cluster-label join must be an equi-join on doc_id and
    # the accounting one hash-agg; q168: no data-path join at all —
    # only the two 1-row broadcast totals
    plan = plan_of(spark, sf_dir, "q167_net_token_accounting")
    assert "CartesianProduct" not in plan

    plan = plan_of(spark, sf_dir, "q168_distribution_drift")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # broadcasts only, never a shuffle join

    # q170: window membership is an equi-join on the md5 fingerprint —
    # the text itself must never be a join key (shuffle stays 32-hex)
    plan = plan_of(spark, sf_dir, "q170_shared_span_stats")
    _assert_no_blowup(plan)

    # q171: the contamination stage must keep q87's broadcast shape
    # (bench side broadcast, corpus never shuffles for it)
    plan = plan_of(spark, sf_dir, "q171_corpus_admission_pipeline")
    _assert_no_blowup(plan)
    assert "BroadcastHashJoin" in plan

    # q172: the corpus touches ONE (label, dim) aggregate; the
    # centroid theta-join runs on |labels|-row frames (a broadcast
    # nested-loop there is correct — it is parameters, not data)
    plan = plan_of(spark, sf_dir, "q172_label_centroid_similarity")
    assert "CartesianProduct" not in plan

    # q173: the sampler applies the rates as a broadcast join + narrow
    # md5 filter at the scan — the document rows never shuffle (its
    # BroadcastNestedLoopJoins are the 1-row totals/budget crossJoins,
    # parameters not data, so only cartesians are banned)
    plan = plan_of(spark, sf_dir, "q173_mixture_materialized")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_unimax_waterfill_single_corpus_scan(spark, sf_dir):
    """q174's whole waterfill must hang off ONE parquet scan — budget,
    source count, and saturation totals are full-frame window
    aggregates, not re-derived aggregate subtrees (the naive
    agg-and-cross-join form scanned the corpus five times)."""
    plan = plan_of(spark, sf_dir, "q174_unimax_mixture")
    assert plan.count("Scan parquet") == 1, plan
    read_schema = explain_formatted(spark, sf_dir, "q174_unimax_mixture").split(
        "ReadSchema:"
    )[1].splitlines()[0]
    assert "doc_id" not in read_schema  # only source + text are read
    assert "lang" not in read_schema


def test_ingest_novelty_single_scan_single_fp_exchange(spark, sf_dir):
    """q175: first-seen is a min-over-fp window — one scan, one
    exchange keyed on the fingerprint, then the per-batch roll-up
    (never a join back that re-fingerprints the corpus)."""
    plan = plan_of(spark, sf_dir, "q175_ingest_novelty")
    assert plan.count("Scan parquet") == 1, plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_packing_efficiency_is_one_aggregate(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q176_packing_efficiency")
    assert plan.count("Scan parquet") == 1
    assert plan.count("HashAggregate") <= 2  # partial + final, nothing else
    read_schema = explain_formatted(
        spark, sf_dir, "q176_packing_efficiency"
    ).split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" not in read_schema and "n_chars" not in read_schema


def test_paragraph_dedup_no_cartesian_two_text_moves(spark, sf_dir):
    """q180: the keeper decision joins on the md5 fingerprint (hash
    join, never a cartesian), and the only scan columns are doc_id +
    text."""
    plan = plan_of(spark, sf_dir, "q180_paragraph_dedup_rewrite")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    read_schema = explain_formatted(
        spark, sf_dir, "q180_paragraph_dedup_rewrite"
    ).split("ReadSchema:")[1].splitlines()[0]
    assert "lang" not in read_schema and "source" not in read_schema


def test_importance_resampling_broadcasts_vocab(spark, sf_dir):
    """q181: the per-doc count join against the ppm vocab table must
    be a broadcast hash join — the corpus-sized side never shuffles on
    the word key."""
    plan = plan_of(spark, sf_dir, "q181_importance_resampling")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_bpe_encode_broadcasts_vocab(spark, sf_dir):
    """q183: encoding is a broadcast join of corpus tokens to the
    O(|vocab|) (word -> n_symbols) table — no corpus-side shuffle on
    the word key, no cartesian."""
    plan = plan_of(spark, sf_dir, "q183_bpe_encode_accounting")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_token_budget_selection_window_is_bucket_bounded(spark, sf_dir):
    """q190: the semantics are a corpus-wide running sum, but the PLAN
    must never contain one — the only Window sits above the boundary-
    bucket filter (score = t*), the full-bucket admissions are a plain
    comparison, and the boundary ids come back via broadcast join."""
    plan = plan_of(spark, sf_dir, "q190_token_budget_selection")
    assert plan.count("Window") <= 1
    assert "BroadcastHashJoin" in plan or "Window" not in plan, plan
    assert "CartesianProduct" not in plan


def test_standing_ann_warm_plan_reads_postings_not_corpus(spark, sf_dir):
    """q192: a warm session answers ANN probes from the STANDING
    postings table — the probe (queries x probed cells) side
    broadcasts, and the raw embeddings parquet is scanned exactly
    once (for the query vectors); the corpus side of the join comes
    from the bucketed postings files, so at 100 TB a warm lookup
    never re-touches the corpus."""
    REGISTRY["q192_standing_ann_topk"].fn(spark, sf_dir).count()  # cold build
    plan = plan_of(spark, sf_dir, "q192_standing_ann_topk")
    assert "BroadcastHashJoin" in plan, plan
    assert "msdf_stage_ivfpost" in plan, plan
    assert plan.count("embeddings.parquet") == 1, plan


def test_standing_bm25_warm_plan_prunes_postings_no_corpus_scan(spark, sf_dir):
    """q193: a warm session answers BM25 probes entirely from the
    standing inverted index — the plan never scans documents.parquet,
    the probed terms reach the postings scan as a pushed In-filter
    (only matching row groups are read), and the probe table
    broadcasts."""
    REGISTRY["q193_standing_bm25_topk"].fn(spark, sf_dir).count()  # cold build
    plan = plan_of(spark, sf_dir, "q193_standing_bm25_topk")
    assert "BroadcastHashJoin" in plan, plan
    assert "msdf_stage_bm25post" in plan, plan
    assert "documents.parquet" not in plan, plan
    assert "In(token" in plan or "token IN" in plan, plan


def test_quality_calibration_windows_are_histogram_only(spark, sf_dir):
    """q200: per-source percentile calibration must NOT rank the
    corpus — the only Window nodes sit over the (source x bucket)
    histogram, and the calibration re-attaches to the corpus scan as
    a broadcast join."""
    plan = plan_of(spark, sf_dir, "q200_cross_source_quality_calibration")
    assert plan.count("Window") <= 2, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_nb_classifier_model_joins_broadcast_one_tokenize(spark, sf_dir):
    """q201: the 4096-row model and the 1-row prior must BROADCAST to
    the scoring join (a shuffled model join would hash-partition the
    whole test split by bucket for nothing), and the corpus must be
    tokenized exactly once — every branch reuses the pinned
    (doc, split, y, bucket) aggregate, so the plan holds at most one
    documents scan however many consumers derive from it."""
    plan = plan_of(spark, sf_dir, "q201_nb_quality_classifier")
    assert plan.count("BroadcastHashJoin") >= 1, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row prior cross join
    assert "CartesianProduct" not in plan, plan
    assert plan.count("documents.parquet") <= 1, plan
    assert "SortMergeJoin" not in plan, plan


def test_cms_single_corpus_pass_broadcast_cells(spark, sf_dir):
    """q202: the sketch grid (<=4096 cells) must broadcast to the
    probe join, the candidate top-k must be a TakeOrdered (never a
    global sort), and the pinned vocab aggregate means at most one
    corpus scan in the plan."""
    plan = plan_of(spark, sf_dir, "q202_count_min_heavy_hitters")
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("documents.parquet") <= 1, plan
    assert "CartesianProduct" not in plan, plan


def test_incremental_bm25_warm_reads_base_postings_once(spark, sf_dir):
    """q203 warm: the base corpus text is never re-tokenized — base
    rows come from the standing bucketed postings with the probed
    terms pushed as an In-filter; documents.parquet appears only for
    the DELTA batch (tokenize + stats = at most 2 scans); probe/df/
    stats joins all broadcast (no shuffled join anywhere)."""
    REGISTRY["q203_incremental_bm25_update"].fn(spark, sf_dir).count()  # cold
    plan = plan_of(spark, sf_dir, "q203_incremental_bm25_update")
    assert "msdf_stage_bm25incpost" in plan, plan
    assert plan.count("documents.parquet") <= 2, plan
    assert "In(token" in plan or "token IN" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_incremental_ann_warm_assigns_only_delta(spark, sf_dir):
    """q204 warm: base vectors come from the standing cell-bucketed
    postings (never re-assigned, never re-read as raw corpus rows
    beyond the probe/delta split scans); the delta assignment is a
    narrow centroid-literal map (no join introduced for it), and the
    probe side joins broadcast."""
    REGISTRY["q204_incremental_ann_update"].fn(spark, sf_dir).count()  # cold
    plan = plan_of(spark, sf_dir, "q204_incremental_ann_update")
    assert "msdf_stage_ivfincpost" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("embeddings.parquet") <= 2, plan  # queries + delta


def test_bm25_tombstone_no_corpus_rescan_anti_join_broadcasts(spark, sf_dir):
    """q208 warm: logical deletes must stay probe-time work — the
    postings scan keeps the pushed In-filter on probed terms, the
    tombstone anti-join BROADCASTS (never a shuffled anti-join), the
    length-companion correction is one aggregate (no text re-read for
    deleted docs' stats: documents.parquet appears only to derive the
    tombstone id list itself), and no shuffled join anywhere."""
    REGISTRY["q208_bm25_tombstone_delete"].fn(spark, sf_dir).count()  # cold
    plan = plan_of(spark, sf_dir, "q208_bm25_tombstone_delete")
    assert "msdf_stage_bm25tombpost" in plan, plan
    assert "msdf_stage_bm25tombdl" in plan, plan
    assert "In(token" in plan or "token IN" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "LeftAnti, BuildRight" in plan or (
        "LeftAnti" in plan and "SortMergeJoin" not in plan
    ), plan
    assert "SortMergeJoin" not in plan, plan
    # documents.parquet may appear once: the tombstone-id derivation
    assert plan.count("documents.parquet") <= 1, plan


def test_ann_tombstone_filters_standing_postings_no_rebuild(spark, sf_dir):
    """q209 warm: deletes ride the SAME standing index q192 serves —
    the plan reads the cell-bucketed postings (no re-assignment of
    the corpus), the tombstone anti-join broadcasts, and raw
    embeddings appear only for the query vectors + tombstone-id
    derivation (never as the corpus side)."""
    REGISTRY["q209_ann_tombstone_delete"].fn(spark, sf_dir).count()  # cold
    plan = plan_of(spark, sf_dir, "q209_ann_tombstone_delete")
    assert "msdf_stage_ivfpost" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("embeddings.parquet") <= 2, plan  # queries + tombstones


def test_bm25_compaction_warm_probe_is_tombstone_free(spark, sf_dir):
    """q210 warm: after physical compaction the probe is q193's shape
    with ZERO tombstone awareness — no documents.parquet anywhere in
    the plan (the compacted standing tables are the only sources), the
    probed-term In-filter still pushes to the compacted postings scan,
    no anti-join, no shuffled join."""
    REGISTRY["q210_bm25_compaction"].fn(spark, sf_dir).count()  # cold compact
    plan = plan_of(spark, sf_dir, "q210_bm25_compaction")
    assert "msdf_stage_bm25cpost" in plan, plan
    assert "documents.parquet" not in plan, plan
    assert "In(token" in plan or "token IN" in plan, plan
    assert "LeftAnti" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_ann_compaction_warm_probe_is_tombstone_free(spark, sf_dir):
    """q211 warm: the compacted cell-bucketed postings serve probes
    with no anti-join and no corpus-side embeddings scan — raw
    embeddings appear only as the query vectors."""
    REGISTRY["q211_ann_compaction"].fn(spark, sf_dir).count()  # cold compact
    plan = plan_of(spark, sf_dir, "q211_ann_compaction")
    assert "msdf_stage_ivfcpost" in plan, plan
    assert "LeftAnti" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("embeddings.parquet") <= 1, plan  # query vectors only


def test_ann_checkpoint_probe_reads_only_rolled_table(spark, sf_dir):
    """q218 warm: after the checkpoint roll, probes carry ZERO log
    awareness — the plan reads the rolled cell-bucketed standing
    table (not the incremental base, not any batch=N staging log),
    raw embeddings appear only as the query vectors, and the probe
    joins broadcast."""
    REGISTRY["q218_ann_index_checkpoint"].fn(spark, sf_dir).count()  # cold
    plan = plan_of(spark, sf_dir, "q218_ann_index_checkpoint")
    assert "msdf_stage_ivfckptpost" in plan, plan
    assert "msdf_ann_ckptlog_" not in plan, plan
    assert "batch=" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("embeddings.parquet") <= 1, plan  # query vectors


def test_bm25_checkpoint_probe_reads_only_rolled_table(spark, sf_dir):
    """q219 warm: the probe is the plain merged shape with an empty
    delta — ONE In-pushed read of the rolled token-bucketed table +
    the 1-row rolled stats table; no staging log, no probe-time
    re-tokenize (documents.parquet absent), no shuffled join."""
    REGISTRY["q219_bm25_index_checkpoint"].fn(spark, sf_dir).count()  # cold
    plan = plan_of(spark, sf_dir, "q219_bm25_index_checkpoint")
    assert "msdf_stage_bm25ckptpost" in plan, plan
    assert "msdf_stage_bm25ckptstats" in plan, plan
    assert "msdf_bm25_ckptlog_" not in plan, plan
    assert "batch=" not in plan, plan
    assert "In(token" in plan or "token IN" in plan, plan
    assert "documents.parquet" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_kcenter_round_is_exchange_free(spark, sf_dir):
    """q223's per-round selection must stay a narrow map + TakeOrdered:
    centers are literals, so there is NO join side, NO groupBy, and
    NO exchange of any kind — one corpus pass per round."""
    from mindseye_dataframes_spark.queries.clustering import _kc_round
    from mindseye_dataframes_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    cents = [(0, [0.1] * 64), (1, [0.2] * 64), (2, [0.3] * 64)]
    plan = (
        _kc_round(emb, cents)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "HashAggregate" not in plan, plan


def test_cluster_sample_window_is_hash_partitioned(spark, sf_dir):
    """q227's per-cluster window must partition by cell — never a
    single-partition global window."""
    plan = plan_of(spark, sf_dir, "q227_cluster_balanced_sample")
    assert "Window" in plan, plan
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "SinglePartition" not in line, line


def test_priority_sample_is_pruned_takeordered(spark, sf_dir):
    """q231 must prune the scan to (doc_id, n_chars) — text never
    read — and take its top-k via TakeOrdered, not a global sort."""
    plan = explain_formatted(spark, sf_dir, "q231_priority_sample")
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema, read_schema
    assert "doc_id" in read_schema and "n_chars" in read_schema
    exec_plan = plan_of(spark, sf_dir, "q231_priority_sample")
    assert "TakeOrderedAndProject" in exec_plan
    assert "BroadcastNestedLoopJoin" in exec_plan or "BroadcastHashJoin" in exec_plan


def test_priority_sample_no_data_shuffle(spark, sf_dir):
    """q231's docstring claims "nothing shuffles": the only exchanges
    allowed are broadcast (the 1-row τ onto the sample) — no
    hash-partitioned or single-partition shuffle of corpus rows
    (VERDICT r10 item 6: pin the docstring's plan claims)."""
    plan = plan_of(spark, sf_dir, "q231_priority_sample")
    for line in plan.splitlines():
        if "Exchange" in line and "BroadcastExchange" not in line:
            raise AssertionError(f"unexpected data shuffle: {line}")


def test_block_manifest_no_single_partition_window(spark, sf_dir):
    """q232's two-phase distributed prefix sum must never run a
    window over a SinglePartition exchange — the whole point of the
    two-phase shape is that only O(partitions) boundary sums funnel
    to one task, never corpus rows (VERDICT r10 item 6)."""
    plan = plan_of(spark, sf_dir, "q232_block_manifest")
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "SinglePartition" not in line, line


def test_manifest_append_delta_only_and_no_single_partition_window(
    spark, sf_dir
):
    """q237 (incremental manifest append): same no-single-partition-
    window guarantee as q232 on the delta's prefix sum, and the
    standing-manifest side unions in without a shuffle of its own
    (Union is exchange-free; the only exchanges are the two prefix-sum
    paths' O(partitions) boundary aggregations)."""
    plan = plan_of(spark, sf_dir, "q237_manifest_incremental_append")
    assert "Union" in plan, plan
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "SinglePartition" not in line, line


def test_hybrid_rrf_warm_plan_is_corpus_free(spark, sf_dir):
    """q199's docstring claims hybrid retrieval costs exactly its two
    standing-index probes: the warm plan must read BOTH standing
    tables (BM25 postings + IVF cell postings), never scan
    documents.parquet (the corpus text lives only in the indexes),
    keep every join broadcast-shaped, and touch embeddings.parquet
    only for the query vectors — with the query-id predicate pushed
    into that scan (VERDICT r11 item 5: pin the docstring's plan
    claims for the lifecycle families)."""
    REGISTRY["q199_hybrid_rrf_retrieval"].fn(spark, sf_dir).count()  # cold
    plan = plan_of(spark, sf_dir, "q199_hybrid_rrf_retrieval")
    assert "msdf_stage_bm25post" in plan, plan
    assert "msdf_stage_ivfpost" in plan, plan
    assert "documents.parquet" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    emb_scans = [
        ln for ln in plan.splitlines() if "embeddings.parquet" in ln
    ]
    assert emb_scans, plan
    assert "LessThan(vec_id" in plan, plan  # query-vector pushdown


def test_bigram_lm_model_broadcasts_one_corpus_pass(spark, sf_dir):
    """q206's docstring claims the hashing-trick bound: the bigram
    model (≤256² cells), context table, and 1-row threshold are
    corpus-size-independent BROADCASTS; the corpus reduces to one
    bigram-bucket aggregate (a single documents scan feeds train and
    test branches), and no corpus-wide window exists anywhere."""
    plan = plan_of(spark, sf_dir, "q206_bigram_lm_perplexity_filter")
    assert plan.count("documents.parquet") <= 1, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row threshold
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition" not in plan, plan


def test_packed_wav_decode_is_container_scan_pure_map(spark, sf_dir):
    """q215's docstring claims the q188 container shape for audio: the
    decode side is one splittable columnar scan of the packed parquet
    container shards (no per-blob binaryFile listing) feeding one
    Arrow-batched decode pass — a pure map with NO join and no
    exchange other than the final presentation sort and the explicit
    REPARTITION_BY_NUM parallelism spread (a byte-small container
    scan would otherwise serialize the decode onto too few cores —
    the q213 AQE-coalescing lesson, `plans/parallelism.py`)."""
    plan = plan_of(spark, sf_dir, "q215_packed_wav_decode")
    assert "msdf_wav_packed_" in plan, plan
    assert "binaryFile" not in plan, plan
    assert "Join" not in plan, plan
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan, plan
    exchanges = [
        ln
        for ln in plan.splitlines()
        if "Exchange" in ln
        and "rangepartitioning" not in ln
        and "REPARTITION_BY_NUM" not in ln
    ]
    assert not exchanges, exchanges


def test_q34_allpairs_has_no_theta_join(spark, sf_dir):
    """VERDICT r12 item 3: q34's exact cosine-threshold listing must
    not plan a cartesian/broadcast-nested-loop theta-join — candidate
    generation is the block-partitioned triangle scheme (explode to
    block-pairs → FlatMapGroupsInPandas GEMM) and the survivor
    re-verify is equi-joins back to the vectors."""
    plan = plan_of(spark, sf_dir, "q34_embedding_near_dup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan  # the per-block-pair GEMM


def test_q126_path_join_is_degree_oriented(spark, sf_dir):
    """VERDICT r12 item 5: the triangle 2-path join must build on the
    degree-oriented edge relation (fan-out O(sqrt(m)) on skewed
    graphs) — the degree join is visible in the plan, and there is
    still no cross product anywhere."""
    plan = plan_of(spark, sf_dir, "q126_triangle_count")
    assert "CartesianProduct" not in plan
    # exactly ONE nested-loop join: the scalar crossJoin attaching
    # the two 1-row aggregates (n_edges × n_triangles) — none on a
    # data path
    assert plan.count("BroadcastNestedLoopJoin") == 1
    # the orientation CASE (degree-first comparison) reaches the plan
    assert "da" in plan and "db" in plan


def test_q238_band_join_only(spark, sf_dir):
    """The production 64-bit SimHash pair query keys candidates on
    (band, value) — an equi-join, never an all-pairs XOR scan."""
    plan = plan_of(spark, sf_dir, "q238_simhash64_hamming_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
