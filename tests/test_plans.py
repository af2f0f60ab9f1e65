"""Physical-plan quality gates: the 100 TB properties as assertions.

A regression that stops a filter reaching parquet or turns a broadcast
into a shuffle is a silent 100x at scale - these tests make it loud.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from nyc_government_hiring_audit_data_platform_spark.plans import inspect as PI

QUERIES = entrymod.queries()


# Documented exceptions to the global-window gate, each with the reason
# a single-partition window is the DESIGN there, not an accident:
_GLOBAL_WINDOW_ALLOWED = {
    # BRONZE per-file record stamping: input is one bounded ingest file
    # by contract (operators/relational.py:with_record_id docstring);
    # bulk data takes the monotonically_increasing_id path instead.
    "record_id",
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_unbounded_global_window(spark, sf_dir, name):
    """The vocab_coverage-class gate (locks out the CLASS, not just the
    fixed instance): no query may contain a Window whose partitioning is
    empty/constant over an input that is not bounded by construction
    (Limit lane or sharded_rank's _shard-totals aggregate). Such a
    window funnels the whole relation through one task at 100 TB."""
    if name in _GLOBAL_WINDOW_ALLOWED:
        pytest.skip("documented bounded-input exception")
    bad = PI.global_window_violations(QUERIES[name](spark, sf_dir))
    assert not bad, f"{name}: unbounded single-partition Window(s):\n" + "\n".join(bad)


def test_scan_projection_pruned(spark, sf_dir):
    df = QUERIES["scan_project"](spark, sf_dir)
    PI.assert_column_pruning(df, 4)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_totalprice") > 400000
    ).select("o_orderkey")
    PI.assert_filter_pushdown(df, "o_totalprice")
    PI.assert_column_pruning(df, 2)


def test_equi_join_broadcasts_small_side(spark, sf_dir):
    """No static hint on the sf-scaled customer side - AQE must still
    broadcast it at runtime when it observes the small filtered size."""
    df = QUERIES["equi_join_agg"](spark, sf_dir)
    df.collect()  # materialize so AQE finalizes join strategies
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final, "AQE should broadcast filtered customer"


def test_topn_uses_window_group_limit(spark, sf_dir):
    df = QUERIES["topn_per_group"](spark, sf_dir)
    assert PI.uses_window_group_limit(df), (
        "rank<=k should compile to WindowGroupLimit (partial top-K)"
    )


def test_global_topk_avoids_full_sort(spark, sf_dir):
    df = QUERIES["global_sort_topk"](spark, sf_dir)
    assert "TakeOrderedAndProject" in PI.physical_plan(df), (
        "ORDER BY + LIMIT should be TakeOrderedAndProject, not a full sort"
    )


def test_groupby_single_shuffle(spark, sf_dir):
    df = QUERIES["groupby_max"](spark, sf_dir)
    assert PI.shuffle_count(df) <= 1, "group-by-max should shuffle exactly once"


def test_similarity_blocked_join_no_cartesian(spark, sf_dir):
    df = QUERIES["similarity_join_blocked"](spark, sf_dir)
    plan = PI.physical_plan(df)
    assert "CartesianProduct" not in plan, "blocking must avoid a cross join"


def test_fuzzy_pipeline_no_cartesian(spark):
    from nyc_government_hiring_audit_data_platform_spark.pipelines import (
        hiring_audit as HA,
    )

    m = HA.fuzzy_match_salary(
        HA.make_payroll_fixture(spark, 200), HA.make_postings_fixture(spark, 40)
    )
    plan = PI.physical_plan(m)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fuzzy_join_pairs_broadcast_is_aqe_decided(spark):
    """The fuzzy pair table must carry NO static broadcast hint (it can
    reach millions of pairs - BASELINE.md v2.0's 8.7M - where a forced
    broadcast OOMs the driver at scale): the logical plan has no hint,
    and AQE converts the title re-attach joins to broadcast AT RUNTIME
    when the observed pair table is small."""
    from nyc_government_hiring_audit_data_platform_spark.operators.fuzzy import (
        fuzzy_join,
    )

    left = spark.createDataFrame(
        [("data analyst",), ("data analysts",)], "t_left string"
    )
    right = spark.createDataFrame(
        [("data analyst",), ("project manager",)], "t_right string"
    )
    out = fuzzy_join(left, right, "t_left", "t_right", 85, 85)
    assert "UnresolvedHint" not in str(out._jdf.queryExecution().logical())
    assert "ResolvedHint" not in str(out._jdf.queryExecution().analyzed())
    out.collect()  # materialize so AQE finalizes the physical plan
    final = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final, (
        "AQE should broadcast the (tiny) runtime pair table:\n" + final
    )


def test_catalog_roundtrip(spark, tmp_path):
    from nyc_government_hiring_audit_data_platform_spark.pipelines import catalog as C

    C.ensure_namespaces(spark)
    df = spark.range(7).withColumnRenamed("id", "v")
    C.save_table(df, C.GOLD, "t_roundtrip", mode="overwrite")
    assert C.read_table(spark, C.GOLD, "t_roundtrip").count() == 7
    # 'ignore' reproduces IF-NOT-EXISTS: second write is a no-op
    C.save_table(spark.range(99).withColumnRenamed("id", "v"), C.GOLD, "t_roundtrip", mode="ignore")
    assert C.read_table(spark, C.GOLD, "t_roundtrip").count() == 7
    spark.sql(f"DROP TABLE {C.GOLD}.t_roundtrip")


def test_bucketed_join_no_shuffle(spark, sf_dir):
    """Bucketed-by-join-key tables join without any Exchange."""
    from pyspark.sql import functions as F

    from nyc_government_hiring_audit_data_platform_spark.operators import (
        bucketing as B,
    )

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    ).withColumnRenamed("l_orderkey", "o_orderkey")
    B.write_bucketed(o, "b_orders", ["o_orderkey"], 8)
    B.write_bucketed(li, "b_lineitem", ["o_orderkey"], 8)
    # force the sort-merge path: a broadcast join would hide whether
    # bucketing removed the shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    joined = B.bucketed_join(spark, "b_orders", "b_lineitem", ["o_orderkey"])
    agg = joined.groupBy("o_orderkey").agg(F.sum("l_quantity").alias("q"))
    try:
        assert PI.shuffle_count(joined) == 0, "bucketed join must not shuffle"
        # group-by on the bucket key also reuses the disk partitioning
        assert PI.shuffle_count(agg) == 0, "bucketed group-by must not shuffle"
        n = joined.count()
        plain = o.join(li, "o_orderkey").count()
        assert n == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_multiway_join_broadcasts_dims(spark, sf_dir):
    df = QUERIES["multiway_join_regional"](spark, sf_dir)
    plan = PI.physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, "nation+region must broadcast"


def test_banded_range_join_broadcasts_bands(spark, sf_dir):
    df = QUERIES["banded_range_join"](spark, sf_dir)
    plan = PI.physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan, (
        "interval table must broadcast (the big side never shuffles for the join)"
    )
    assert "CartesianProduct" not in plan


def test_unpivot_no_shuffle(spark, sf_dir):
    df = QUERIES["unpivot_metrics"](spark, sf_dir)
    assert PI.shuffle_count(df) == 0, "wide->long is scan-local"


def test_asof_join_linear_plan(spark, sf_dir):
    """The union-merge as-of join is linear: one shuffle to dedup the
    right side per (user, second), one to merge-sort the union per user.
    A naive theta-join formulation (l.ts >= r.ts) would be a nested-loop
    join - quadratic per user and the thing this test forbids."""
    df = QUERIES["asof_join"](spark, sf_dir)
    plan = PI.physical_plan(df)
    assert "NestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert PI.shuffle_count(df) <= 2


def test_ann_ivf_probe_is_equi_join(spark, sf_dir):
    df = QUERIES["ann_ivf_topk"](spark, sf_dir)
    plan = PI.physical_plan(df)
    assert "BroadcastHashJoin" in plan, "probe join must be a broadcast equi-join"
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-style partitionBy on write -> equality filter on the
    partition column prunes directories at planning time (the 100 TB
    pattern: partition by coarse key, filter never touches other
    partitions' files)."""
    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    path = str(tmp_path / "orders_by_priority")
    src.write.partitionBy("o_orderpriority").parquet(path)
    df = (
        spark.read.parquet(path)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    plan = PI.physical_plan(df)
    pf = plan.split("PartitionFilters: [", 1)
    assert len(pf) == 2 and "o_orderpriority" in pf[1].split("]")[0], (
        "partition filter must be applied at the scan, not post-scan"
    )
    expected = src.filter(F.col("o_orderpriority") == "1-URGENT").count()
    assert df.count() == expected


def test_tfidf_topk_uses_window_group_limit(spark, sf_dir):
    df = QUERIES["tfidf_top_terms"](spark, sf_dir)
    plan = PI.physical_plan(df)
    assert PI.uses_window_group_limit(df), (
        "top-3 terms per doc should compile to WindowGroupLimit"
    )
    assert "CartesianProduct" not in plan  # the 1-row corpus-size join is BNLJ/broadcast


def test_sampling_is_pushdown_free_map_filter(spark, sf_dir):
    # hash-sample must stay a stateless filter: no shuffle at all
    df = QUERIES["deterministic_sample"](spark, sf_dir)
    assert PI.shuffle_count(df) == 0, "hash sampling must not shuffle"
    df2 = QUERIES["stratified_sample"](spark, sf_dir)
    assert PI.shuffle_count(df2) == 0, "stratified hash sampling must not shuffle"


def test_kmeans_update_single_shuffle(spark, sf_dir):
    # one repartition (local single-file parallelism) + one partial-agg
    # exchange for the groupBy - no joins, no extra exchanges
    df = QUERIES["kmeans_iteration"](spark, sf_dir)
    assert PI.shuffle_count(df) <= 2
    assert "CartesianProduct" not in PI.physical_plan(df)


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """A filtered dim joined on the fact's partition column must inject
    a dynamicpruning subquery into the scan's PartitionFilters - at
    scale this skips whole partitions at runtime. The two conf
    overrides only compensate for the tiny local fact table (the
    default size heuristics would deem pruning not worth it here)."""
    d = str(tmp_path / "orders_part")
    spark.read.parquet(f"{sf_dir}/orders.parquet").write.partitionBy(
        "o_orderpriority"
    ).mode("overwrite").parquet(d)
    old_stats = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.useStats")
    old_ratio = spark.conf.get(
        "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio"
    )
    try:
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", "100.0"
        )
        fact = spark.read.parquet(d)
        dim = spark.createDataFrame(
            [("1-URGENT", 10), ("2-HIGH", 20), ("3-MEDIUM", 1)], ["prio", "w"]
        ).filter(F.col("w") > 5)
        j = fact.join(dim, fact.o_orderpriority == dim.prio).agg(
            F.sum(F.col("o_totalprice") * F.col("w")).alias("s")
        )
        assert "dynamicpruningexpression" in PI.physical_plan(j).lower(), (
            "partition-column join with filtered dim should inject DPP"
        )
    finally:
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", old_stats)
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", old_ratio
        )


def test_contamination_broadcasts_bench_grams(spark, sf_dir):
    """benchmark_contamination: the held-out gram set must broadcast
    (it is bounded by the benchmark size, not the corpus) and the
    corpus side must stay a linear explode + equi-join."""
    df = QUERIES["benchmark_contamination"](spark, sf_dir)
    plan = PI.physical_plan(df)
    assert "BroadcastHashJoin" in plan, "bench gram set should broadcast"
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_pack_sequences_single_shuffle_window(spark, sf_dir):
    """pack_sequences: exactly one hash exchange (on source) feeds the
    running-sum window - no global single-partition window, no extra
    shuffles."""
    df = QUERIES["pack_sequences"](spark, sf_dir)
    plan = PI.physical_plan(df)
    assert PI.shuffle_count(df) == 1, "one hash exchange on source only"
    assert "SinglePartition" not in plan, "window must not collapse to one partition"


def test_tokensort_fuzzy_chain_no_cartesian(spark, sf_dir):
    """The driver-verified fuzzy chain must never materialize a dense
    NxM comparison: no CartesianProduct and no BroadcastNestedLoopJoin
    anywhere in the plan (candidates come from the token equi-join)."""
    from nyc_government_hiring_audit_data_platform_spark.driver_queries import QUERIES

    plan = PI.physical_plan(QUERIES["fuzzy_salary_matches"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_block_cap_truncates_map_side(spark, sf_dir):
    """The max_block occupancy cap must compile to WindowGroupLimit with
    a PARTIAL map-side stage (each mapper truncates a key's group to
    max_block BEFORE the window's shuffle - the property that stops a
    hot key flooding one reducer), its exchanges must move only the
    exploded token-key rows (never a pair table), and the plan must
    stay cartesian-free."""
    from nyc_government_hiring_audit_data_platform_spark.driver_queries import QUERIES

    cap = QUERIES["fuzzy_block_capped"](spark, sf_dir)
    plan = PI.physical_plan(cap)
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan, "map-side partial WindowGroupLimit missing"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # every shuffle carries a single title + key + token tuple (or the
    # final pair-dedup aggregate), never raw N x M candidate pairs
    for block in PI.exchange_blocks(cap):
        assert "hashpartitioning" in block


def test_gold_unique_two_level_max_agg(spark, sf_dir):
    """gold_salary_matches_unique aggregates in two MAX levels so the
    posting-duration parse chain runs on the small intermediate: the
    plan must contain the partial/final pairs of BOTH groupings (>= 4
    HashAggregates) and no nested-loop join."""
    from nyc_government_hiring_audit_data_platform_spark.driver_queries import QUERIES

    plan = PI.physical_plan(QUERIES["gold_salary_matches_unique"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 4
    assert "BroadcastNestedLoopJoin" not in plan


def test_int8_quantize_is_map_only(spark, sf_dir):
    """Embedding quantization is a stateless per-row transform: besides
    the explicit round-robin repartition of the single-file scan, the
    plan has no shuffle (no aggregation, no join)."""
    from nyc_government_hiring_audit_data_platform_spark.driver_queries import QUERIES

    df = QUERIES["embedding_int8_quantize"](spark, sf_dir)
    assert PI.shuffle_count(df) <= 1  # only the explicit repartition
    plan = PI.physical_plan(df)
    assert "Join" not in plan


def test_funnel_no_full_log_window(spark, sf_dir):
    """The funnel is three per-user aggregates + equi-joins - no Window
    operator over the whole event log and no nested-loop join."""
    from nyc_government_hiring_audit_data_platform_spark.driver_queries import QUERIES

    plan = PI.physical_plan(QUERIES["funnel_conversion"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan


def test_kernel_queries_run_real_pandas_udf(spark, sf_dir):
    """The U1/U2 driver rows must exercise the REAL Arrow pandas-UDF
    scorer kernels (operators.fuzzy.token_set_ratio_udf / wratio_udf),
    not an expression twin - that is the whole point of the rows."""
    for name in ("token_set_kernel", "wratio_kernel"):
        df = QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" in plan, f"{name} lost its pandas-UDF kernel"


def test_aqe_splits_skewed_join_partitions(spark, sf_dir):
    """At cluster scale a hot key turns one sort-merge partition into a
    straggler; AQE's OptimizeSkewedJoin must split it at runtime. Local
    testdata is under every default threshold, so thresholds are pinned
    tiny to force the cluster-shaped decision, and the executed plan
    must carry the skew=true marker on the join. (The engine's OTHER
    answer to skew - explicit salting - is the salted_skew_join query;
    this gate covers the AQE path users get without rewriting.)"""
    pins = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "100",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "100",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "100",
    }
    saved = {}
    for k, v in pins.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        # a quarter of each side collapses onto key 249 (hot partition);
        # df1 additionally folds its top quarter onto an unmatched key so
        # both sides stay |1000| but one reduce partition dominates
        df1 = spark.range(0, 1000, 1, 10).select(
            F.when(F.col("id") < 250, 249)
            .when(F.col("id") >= 750, 1000)
            .otherwise(F.col("id"))
            .alias("key1"),
            F.col("id").alias("value1"),
        )
        df2 = spark.range(0, 1000, 1, 10).select(
            F.when(F.col("id") < 250, 249).otherwise(F.col("id")).alias("key2"),
            F.col("id").alias("value2"),
        )
        # count() via agg keeps the driver-side result tiny while still
        # executing THIS DataFrame's QueryExecution (a noop write would
        # run a separate one and leave this plan un-finalized)
        j = df1.join(df2, F.col("key1") == F.col("key2")).groupBy().count()
        assert j.collect()[0]["count"] == 63_000
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, (
            "AQE did not split the skewed partitions:\n" + final[:2000]
        )
        assert "AQEShuffleRead skewed" in final
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """At cluster scale neither join side broadcasts; Spark's runtime
    bloom filter (InjectRuntimeFilter) must then build a bloom sketch on
    the filtered build side and semi-prune the probe-side scan. Local
    testdata is under every default threshold, so thresholds are pinned
    to force the cluster-shaped decision and assert the injection fires
    (bloom_filter_agg on the build side, might_contain on the probe)."""
    pins = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in pins.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_totalprice") > 500000
        )
        j = (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy("l_returnflag")
            .count()
        )
        plan = PI.physical_plan(j)
        assert "bloom_filter_agg" in plan, "no bloom filter built on build side"
        assert "might_contain" in plan, "probe-side scan not bloom-pruned"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_boilerplate_and_chunk_dedup_no_cartesian(spark, sf_dir):
    """Both sub-document dedup queries are explode -> key-grouped aggs ->
    equi-joins; a nested-loop anywhere means the blocking broke."""
    for name in ("boilerplate_ngram_flags", "chunk_dedup"):
        plan = PI.physical_plan(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_pagerank_iteration_bounded_shuffles(spark, sf_dir):
    """One pregel step = distinct + out-degree agg + gather join/agg;
    anything beyond a handful of key shuffles (or any nested loop) means
    the step would not scale to a real edge set."""
    df = QUERIES["pagerank_iteration"](spark, sf_dir)
    plan = PI.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert PI.shuffle_count(df) <= 5


def test_quota_sample_uses_window_group_limit(spark, sf_dir):
    """Per-domain quota caps must take only K rows per source off the
    map side (WindowGroupLimit), never rank the whole corpus."""
    assert PI.uses_window_group_limit(QUERIES["per_source_quota_sample"](spark, sf_dir))


def test_skew_profile_top20_avoids_full_sort(spark, sf_dir):
    """The top-20 keys come off per-partition heaps
    (TakeOrderedAndProject), not a global sort of all keys."""
    plan = PI.physical_plan(QUERIES["key_skew_profile"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_hard_negative_mining_broadcast_panel_topk(spark, sf_dir):
    """The anchor panel broadcasts (corpus never shuffles for the score
    join) and the per-anchor top-k compiles to WindowGroupLimit."""
    df = QUERIES["hard_negative_mining"](spark, sf_dir)
    plan = PI.physical_plan(df)
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert PI.uses_window_group_limit(df)


def test_sequence_windows_single_user_shuffle(spark, sf_dir):
    """The LOCF fill, TWAP, and path queries all hang off ONE
    hash-partition-by-user exchange that the downstream groupBy reuses;
    a second shuffle means the window/agg partitioning stopped
    aligning (a silent 2x at scale)."""
    for name in ("forward_fill", "time_weighted_avg", "path_signature"):
        assert PI.shuffle_count(QUERIES[name](spark, sf_dir)) <= 1, name


def test_bpe_pair_counts_partial_agg_topk(spark, sf_dir):
    """Tiny-domain pair counting must collapse map-side (partial
    HashAggregate before the single shuffle) and take its top-40 off
    per-partition heaps, never a global sort."""
    df = QUERIES["bpe_pair_counts"](spark, sf_dir)
    assert PI.shuffle_count(df) <= 1
    assert "TakeOrderedAndProject" in PI.physical_plan(df)


def test_quantile_bucketize_broadcast_no_global_sort(spark, sf_dir):
    """Equal-frequency binning ranks within value-range SHARDS (the
    epoch_shuffle decomposition - parallel hashpartitioning(shard)
    windows, never the whole fact table through one ntile window) and
    assigns buckets via a broadcast one-row edge vector (the corpus's
    broadcast-totals pattern)."""
    df = QUERIES["quantile_bucketize"](spark, sf_dir)
    plan = PI.physical_plan(df)
    assert "BroadcastExchange" in plan
    assert "hashpartitioning(_shard" in plan  # the parallel rank windows
    assert "ntile" not in plan.lower()
    assert "CartesianProduct" not in plan


def test_bfs_distance_no_cartesian_bounded_shuffles(spark, sf_dir):
    """Each BFS hop is one frontier equi-join + one groupBy MIN. The
    only condition-less joins allowed are the constant-folded 1-row
    seed broadcasts; a CartesianProduct or unbounded shuffle growth
    means a hop stopped being key-partitioned."""
    df = QUERIES["bfs_distance"](spark, sf_dir)
    plan = PI.physical_plan(df)
    assert "CartesianProduct" not in plan
    # 3 unrolled hops x (join + min-agg) over recomputed lineage: 14
    # exchanges today; the bound catches an accidental extra per-hop
    # shuffle class, not noise.
    assert PI.shuffle_count(df) <= 16


def test_null_safe_join_is_hash_join(spark, sf_dir):
    """EqualNullSafe must compile to a HASH join (shuffled or
    broadcast) exactly like ``=`` - a nested loop here means Spark
    stopped treating <=> as an equi-key and the join went quadratic."""
    df = QUERIES["null_safe_join"](spark, sf_dir)
    plan = PI.physical_plan(df)
    assert "HashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_variant_extract_is_map_only(spark, sf_dir):
    """VARIANT build + typed path extraction + leaf predicate is a pure
    projection chain: zero exchanges."""
    assert PI.shuffle_count(QUERIES["variant_json_extract"](spark, sf_dir)) == 0


def test_attribution_single_window_pass(spark, sf_dir):
    """Last-touch attribution is ONE user-partitioned window shuffle;
    both ignore-nulls lasts share the frame."""
    assert PI.shuffle_count(QUERIES["attribution_last_touch"](spark, sf_dir)) <= 1


def test_benford_broadcast_total_tiny_domain(spark, sf_dir):
    """The Benford screen reduces to a 9-row digit table before any
    join; the grand total rides the broadcast-one-row pattern (the
    only condition-less join allowed) and nothing cartesian appears."""
    df = QUERIES["benford_digit_audit"](spark, sf_dir)
    plan = PI.physical_plan(df)
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert PI.shuffle_count(df) <= 3


def test_nearest_asof_single_pass(spark, sf_dir):
    """Both direction frames (preceding/following) share one
    user-partitioned sort: ONE exchange, two Window frames, and never
    a theta self-join."""
    df = QUERIES["asof_join_nearest"](spark, sf_dir)
    plan = PI.physical_plan(df)
    assert PI.shuffle_count(df) <= 1
    assert "Join" not in plan  # pure window pass, no join operator at all


def test_interval_coalesce_single_shuffle(spark, sf_dir):
    """Sweep-line coalescing: windows + groupBy(user, island) all ride
    the hash(user_id) exchange (subset partitioning satisfies the
    clustered distribution) - one shuffle end to end."""
    assert PI.shuffle_count(QUERIES["interval_coalesce"](spark, sf_dir)) <= 1


def test_weighted_median_sharded_no_cartesian(spark, sf_dir):
    """Cumulative weights run over (flag, cents-shard) partitions (the
    shard-prefix decomposition), never one whole-histogram window per
    flag; all joins stay keyed."""
    df = QUERIES["weighted_median"](spark, sf_dir)
    plan = PI.physical_plan(df)
    assert "hashpartitioning(flag" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_chunk_split_map_only(spark, sf_dir):
    """Sliding-window chunking computes every chunk where the doc
    lives: zero exchanges."""
    assert PI.shuffle_count(QUERIES["chunk_overlap_split"](spark, sf_dir)) == 0


def test_k_anonymity_single_qi_shuffle(spark, sf_dir):
    """The suppression screen is one count-over-quasi-identifier
    window: one shuffle keyed by (nat, bal_band)."""
    assert PI.shuffle_count(QUERIES["k_anonymity_suppress"](spark, sf_dir)) <= 1


def test_running_distinct_two_window_passes(spark, sf_dir):
    """Exact online cardinality = first-occurrence mark + cumulative
    sum: two key-partitioned exchanges, nothing else."""
    assert PI.shuffle_count(QUERIES["running_distinct_count"](spark, sf_dir)) <= 2


def test_outlier_flags_keyed_joins_only(spark, sf_dir):
    """Median/MAD screen: groupBy + equi-join-backs on user_id, no
    cartesian and no window over raw events."""
    df = QUERIES["user_outlier_flags"](spark, sf_dir)
    plan = PI.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan  # aggregates only - pin the stated shape


def test_tfidf_retrieval_inverted_index_shape(spark, sf_dir):
    """Search top-k: query-term filter BEFORE any aggregation, idf
    broadcast back, final heap via TakeOrderedAndProject - never a
    global sort of all scored docs or a vocabulary-wide df pass."""
    df = QUERIES["tfidf_retrieval"](spark, sf_dir)
    plan = PI.physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_time_decay_broadcast_max_one_groupby(spark, sf_dir):
    """Binary-decay weighting: one broadcast scalar (max ts), map-side
    weights, one groupBy(user) - the decay math never shuffles raw
    rows more than once."""
    df = QUERIES["time_decayed_engagement"](spark, sf_dir)
    plan = PI.physical_plan(df)
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_bm25_inverted_index_shape(spark, sf_dir):
    """BM25 rides the same inverted-index plan as tfidf_retrieval:
    broadcast idf/stats, per-doc heap, nothing cartesian."""
    df = QUERIES["bm25_retrieval"](spark, sf_dir)
    plan = PI.physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_pca_power_iteration_no_gram_matrix(spark, sf_dir):
    """w = X^T(Xv) as two keyed aggregations - the dim x dim Gram
    matrix never materializes and nothing goes cartesian."""
    df = QUERIES["pca_power_iteration"](spark, sf_dir)
    plan = PI.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert PI.shuffle_count(df) <= 3


def test_referential_audit_no_cartesian(spark, sf_dir):
    """Each FK check is a keyed left join reduced to one row; nothing
    cartesian, no nested loop."""
    df = QUERIES["referential_integrity_audit"](spark, sf_dir)
    plan = PI.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# --- round-6 family plan gates (VERDICT r6 ask #2) -------------------------

_VEC_RE = r"_s\d+#|embedding#|\bcv#|\bqv#"
# raw document text attributes (the r8 edge-fan-out sweep's gate); the
# 8-byte shingle-hash sets (hs#) are the dedup family's DESIGNED
# working representation and may shuffle for the verify join
_TEXT_RE = r"\btxt#|\btext#"


def _vector_exchanges(df):
    import re

    return [b for b in PI.exchange_blocks(df) if re.search(_VEC_RE, b)]


def _text_exchanges(df):
    import re

    return [b for b in PI.exchange_blocks(df) if re.search(_TEXT_RE, b)]


def test_pq_encode_is_map_side_operator_adds_no_vector_exchange(spark, sf_dir):
    """pq_topk given a plain corpus scan: NO Exchange anywhere in its
    plan carries a vector column - encoding runs in the scan partitions
    and only (id, 8-byte codes) ever moves. The one allowed shuffle is
    the top-k window's (query_id, neighbor_id, adist)."""
    from nyc_government_hiring_audit_data_platform_spark.operators import ann as ANN
    from nyc_government_hiring_audit_data_platform_spark.driver_queries import table

    emb = table(spark, sf_dir, "embeddings")
    df = ANN.pq_topk(
        emb.filter(F.col("vec_id") < 20), emb, "vec_id", "embedding",
        "vec_id", "embedding", 5,
    )
    assert _vector_exchanges(df) == []
    assert "CartesianProduct" not in PI.physical_plan(df)


def test_ivfadc_operator_no_vector_exchange_cluster_equijoin(spark, sf_dir):
    """ivfadc_topk given a plain corpus scan: zero vector-carrying
    exchanges (cluster assignment + PQ encode are map-side), and the
    candidate cut is a real hash equi-join on cluster - never a nested
    loop over the corpus. Since r13 the centroid/codebook model rides
    as a ONE-row broadcast relation (the residual family's shape), so
    the plan carries exactly the two model-attach nested loops (corpus
    side + query side) - a nested loop against a 1-row build relation
    is a per-row column bind, not a corpus x corpus scan, which the
    zero-vector-exchange and BroadcastHashJoin gates still preclude."""
    from nyc_government_hiring_audit_data_platform_spark.operators import ann as ANN
    from nyc_government_hiring_audit_data_platform_spark.driver_queries import table

    emb = table(spark, sf_dir, "embeddings")
    df = ANN.ivfadc_topk(
        emb.filter(F.col("vec_id") < 20), emb, "vec_id", "embedding",
        "vec_id", "embedding", 5, nprobe=4,
    )
    assert _vector_exchanges(df) == []
    plan = PI.physical_plan(df)
    assert "BroadcastHashJoin" in plan
    # 4 one-row nested-loop nodes (the arr x cb model composition and
    # the model attach, on each of corpus/query side), each printed
    # twice by the formatted explain (tree + details)
    assert plan.count("BroadcastNestedLoopJoin") <= 8, (
        "more nested loops than the one-row model attaches"
    )
    assert "CartesianProduct" not in plan


def test_pq_driver_queries_single_documented_input_fanout(spark, sf_dir):
    """The driver queries fan the single-row-group local fixture out
    ONCE at the input edge (a 2-column REPARTITION_BY_NUM of (id, vec));
    every other exchange moves codes/distances only. A second vector
    exchange means encode stopped being map-side."""
    for name, allowed in [
        ("ann_pq_adc_topk", 1),
        ("ann_ivfadc_topk", 1),
        ("ann_pq_recall_bound", 2),  # + the exact lane's panel fan-out
        # trained-residual IVFADC gained the input fan-out in r13: the
        # training aggs spread their SHUFFLE side only - the per-row
        # Lloyd-assignment/encode passes run in the scan partitions,
        # one task on the single-row-group fixture (profiled 2.3-2.5 s
        # serial per encode pass before the fan-out)
        ("ann_ivfadc_residual_topk", 1),
        ("ann_ivfadc_residual_recall", 4),  # + exact/raw-twin fan-outs
        # the one input fan-out prints twice: the shortlist subtree and
        # the rerank's raw-vector fetch re-embed the SAME spread corpus
        # (identical subplans - ReuseExchange dedups them at runtime;
        # the fetch itself is still a broadcast id join)
        ("ann_ivfadc_rerank_topk", 2),
        # ONE corpus edge fan-out per consumer re-embed (the exact
        # lane feeds three milli lanes + the rerank fetch re-reads it)
        ("ann_ivfadc_rerank_recall", 5),
    ]:
        vex = _vector_exchanges(QUERIES[name](spark, sf_dir))
        assert len(vex) == allowed, f"{name}: {len(vex)} vector exchanges\n{vex}"
        for b in vex:
            assert "REPARTITION_BY_NUM" in b, f"{name}: non-fanout vector move\n{b}"


# --- round-8 edge fan-out sweep gates (VERDICT r7 ask #1) -------------------
# Every dedup/ANN operator is shuffle-free over its raw payload: text and
# vectors move ONLY in the caller's documented input-edge fan-out. The
# operator-level tests feed a PLAIN scan (the production shape - no
# fan-out at all); the driver-query tests pin the exact fan-out budget.


def test_dedup_operators_add_no_text_exchange(spark, sf_dir):
    """minhash/ngram-jaccard/simhash/band-index/incremental given a plain
    single-file scan: ZERO text-carrying exchanges anywhere in the plan.
    Shingle hashing and signatures run in the scan partitions; only the
    8-byte shingle-hash sets (the verify step's working representation)
    and band keys may shuffle."""
    from nyc_government_hiring_audit_data_platform_spark.operators import dedup as D
    from nyc_government_hiring_audit_data_platform_spark.driver_queries import table

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    for label, df in [
        ("minhash_lsh_pairs", D.minhash_lsh_pairs(docs, "text", "doc_id", 0.25)),
        ("ngram_jaccard_pairs", D.ngram_jaccard_pairs(docs, "text", "doc_id", 0.25)),
        ("simhash_signatures_df", D.simhash_signatures_df(docs, "text", "doc_id")),
        ("simhash_collision_pairs", D.simhash_collision_pairs(docs, "text", "doc_id")),
        ("build_band_index", D.build_band_index(docs, "text", "doc_id")),
        (
            "incremental_neardup",
            D.incremental_neardup(
                docs.filter(F.col("doc_id") % 5 == 0),
                D.build_band_index(
                    docs.filter(F.col("doc_id") % 5 == 1), "text", "doc_id"
                ),
                "text",
                "doc_id",
                0.25,
            ),
        ),
    ]:
        tex = _text_exchanges(df)
        assert tex == [], f"{label}: text-carrying exchange\n{tex}"
    spark.catalog.clearCache()


def test_ann_operators_add_no_vector_exchange(spark, sf_dir):
    """cosine/lsh/ivf top-k, kmeans_update and embedding near-dup given a
    plain corpus scan: ZERO vector-carrying exchanges - scoring folds,
    bucket/cluster assignment and the per-dim posexplode all run in the
    scan partitions; only ids, buckets, sims and (cluster, dim) scalars
    move."""
    import re

    from nyc_government_hiring_audit_data_platform_spark.operators import ann as ANN
    from nyc_government_hiring_audit_data_platform_spark.driver_queries import table

    vec_re = _VEC_RE + r"|\bv#"  # embedding_neardup aliases its vector `v`
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    for label, df in [
        (
            "cosine_topk",
            ANN.cosine_topk(q, emb, "vec_id", "embedding", "vec_id", "embedding", 5),
        ),
        (
            "lsh_topk",
            ANN.lsh_topk(q, emb, "vec_id", "embedding", "vec_id", "embedding", 5),
        ),
        (
            "ivf_topk",
            ANN.ivf_topk(q, emb, "vec_id", "embedding", "vec_id", "embedding", 5),
        ),
        ("kmeans_update", ANN.kmeans_update(emb, "vec_id", "embedding")),
        (
            "embedding_neardup_pairs",
            ANN.embedding_neardup_pairs(emb, "vec_id", "embedding", 0.3),
        ),
    ]:
        vex = [b for b in PI.exchange_blocks(df) if re.search(vec_re, b)]
        assert vex == [], f"{label}: vector-carrying exchange\n{vex}"
    spark.catalog.clearCache()


def test_dedup_driver_queries_documented_input_fanout_only(spark, sf_dir):
    """Driver queries in the dedup family: every text-carrying exchange
    is a documented REPARTITION_BY_NUM input-edge fan-out of the
    single-row-group fixture, with the exact budget pinned per query."""
    for name, allowed in [
        ("minhash_lsh_neardup", 1),
        ("ngram_jaccard_neardup", 1),
        ("simhash_signatures", 1),
        ("simhash_collisions", 1),
        ("incremental_neardup_batch", 2),  # corpus-index + batch edges
        ("minhash_lsh_recall", 1),  # ONE edge shared by both lanes
    ]:
        tex = _text_exchanges(QUERIES[name](spark, sf_dir))
        assert len(tex) == allowed, f"{name}: {len(tex)} text exchanges\n{tex}"
        for b in tex:
            assert "REPARTITION_BY_NUM" in b, f"{name}: non-fanout text move\n{b}"
        spark.catalog.clearCache()


def test_ann_driver_queries_documented_input_fanout_only(spark, sf_dir):
    """Driver queries in the brute-force/LSH/IVF/kmeans/neardup ANN
    family: every vector-carrying exchange is a documented input-edge
    fan-out (same contract the PQ family pinned in r7).
    kmeans_iteration's fan-out was removed in r14 (A/B −29%: the
    assignment fold is below the heavy-per-row boundary), so its
    allowed count is ZERO — the assignment runs in the scan partitions
    and only the partial-aggregated means move."""
    import re

    vec_re = _VEC_RE + r"|\bv#"
    for name, allowed in [
        ("ann_cosine_topk", 1),
        ("ann_lsh_topk", 1),
        ("ann_ivf_topk", 1),
        ("kmeans_iteration", 0),
        ("embedding_neardup", 1),
        ("ann_ivf_recall_bound", 2),  # shared corpus edge, one per lane
        ("hybrid_rrf_retrieval", 1),  # the vector lane's corpus edge
    ]:
        vex = [
            b
            for b in PI.exchange_blocks(QUERIES[name](spark, sf_dir))
            if re.search(vec_re, b)
        ]
        assert len(vex) == allowed, f"{name}: {len(vex)} vector exchanges\n{vex}"
        for b in vex:
            assert "REPARTITION_BY_NUM" in b, f"{name}: non-fanout vector move\n{b}"
        spark.catalog.clearCache()


def test_filtered_ann_pushes_predicate_to_scan(spark, sf_dir):
    """Filtered vector search: the metadata predicate must reach the
    corpus parquet scan (PushedFilters - at 100 TB only matching row
    groups are read before any cluster math), the probe join stays a
    broadcast equi-join, and the corpus fan-out moves survivors only
    (one vector exchange, REPARTITION_BY_NUM, above the filter)."""
    df = QUERIES["ann_filtered_topk"](spark, sf_dir)
    PI.assert_filter_pushdown(df, "label")
    plan = PI.physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    vex = _vector_exchanges(df)
    assert len(vex) == 1 and "REPARTITION_BY_NUM" in vex[0]
    spark.catalog.clearCache()


def test_incremental_probe_never_shuffles_the_index(spark, sf_dir):
    """incremental_neardup's index join must stream the (possibly
    x100) band index and broadcast the bounded batch side - gated or
    not. Without the explicit hint, the bloom gate's crossJoin+filter
    destroyed the size estimate and a x100 index was sort-merge
    shuffled twice (measured 23.2 s vs 3.4 s)."""
    from nyc_government_hiring_audit_data_platform_spark.operators import dedup as D
    from nyc_government_hiring_audit_data_platform_spark.driver_queries import table

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = D.build_band_index(docs.filter(F.col("doc_id") % 5 == 1), "text", "doc_id")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    gate = D.band_bloom_gate(idx)
    for df in (
        D.incremental_neardup(batch, idx, "text", "doc_id", 0.25),
        D.incremental_neardup(batch, idx, "text", "doc_id", 0.25, bloom_gate=gate),
    ):
        plan = PI.physical_plan(df)
        assert "SortMergeJoin" not in plan
        assert "BroadcastHashJoin" in plan
    spark.catalog.clearCache()


def test_incremental_probe_dedup_exchange_ships_no_shingle_arrays(spark, sf_dir):
    """incremental_neardup's only ENSURE_REQUIREMENTS shuffle (the pair
    dedup; input-edge fan-outs at the QUERY layer are separate
    REPARTITION_BY_NUM exchanges) must carry only (new_id, corpus_id,
    jaccard) - the exact verify runs map-side in the index scan
    partitions BEFORE the exchange (r13, guide §2.3: shuffle metadata,
    not payloads). The pre-r13 shape deduped first with dropDuplicates
    over the array payloads, which planned as
    Sort + SortAggregate(first(hs_a), first(hs_b)) around an exchange
    whose rows carried both shingle-hash sets (its first() buffers
    surface as valueSet columns in the Exchange block) - measured as
    the operator's hottest stage (24.5 s task CPU at sf0.1). Since r14
    the dedup groups on the PAIR alone (min-folded jaccard), so
    one-row-per-pair is structural, and the assertions below anchor on
    that aggregate: it must be a HashAggregate keyed (new_id,
    corpus_id) with no SortAggregate over those keys anywhere."""
    import re

    from nyc_government_hiring_audit_data_platform_spark.operators import dedup as D
    from nyc_government_hiring_audit_data_platform_spark.driver_queries import table

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = D.build_band_index(docs.filter(F.col("doc_id") % 5 == 1), "text", "doc_id")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    df = D.incremental_neardup(batch, idx, "text", "doc_id", 0.25)
    plan = PI.physical_plan(df)
    # the pair-dedup aggregate exists, hash-based, keyed on the pair
    pair_agg = re.compile(
        r"\(\d+\) (Hash|Sort)Aggregate[^\n]*\n"
        r"(?:[A-Z][^\n]*\n)*?"
        r"Keys \[2\]: \[new_id#\d+L?, corpus_id#\d+L?\]"
    )
    matches = pair_agg.findall(plan)
    assert matches, "pair-keyed dedup aggregate missing:\n" + plan
    assert set(matches) == {"Hash"}, "pair dedup planned as SortAggregate"
    # and no aggregate (of any kind) buffers the shingle arrays
    assert not re.search(r"Functions \[\d+\]:.*\(hs", plan)
    for b in PI.exchange_blocks(df):
        assert not re.search(r"\bhs(_a|_b)?#|valueSet#", b), (
            "pair-dedup exchange carries shingle arrays:\n" + b
        )
    spark.catalog.clearCache()


def test_rerank_fetch_is_broadcast_id_join(spark, sf_dir):
    """The exact-rerank stage's raw-vector fetch must be a broadcast
    hash equi-join of the BOUNDED shortlist against the corpus scan
    (VERDICT r7 ask #4): the corpus never shuffles for the rerank, no
    sort-merge join materializes on the id fetch, and nothing is
    cartesian."""
    df = QUERIES["ann_ivfadc_rerank_topk"](spark, sf_dir)
    plan = PI.physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    spark.catalog.clearCache()


def test_bloom_probe_adds_zero_probe_side_exchanges(spark, sf_dir):
    """bloom_probe is a map-only gate on the probe side: the probed
    plan's shuffle count equals the filter-build subtree's own, and the
    ONE-row filter arrives by broadcast."""
    from nyc_government_hiring_audit_data_platform_spark.operators import bloom as B
    from nyc_government_hiring_audit_data_platform_spark.driver_queries import table

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    filt = B.bloom_build(docs.limit(100), "text")
    probed = B.bloom_probe(docs, "text", filt)
    assert PI.shuffle_count(probed) == PI.shuffle_count(filt)
    assert "BroadcastExchange" in PI.physical_plan(probed)


def test_containment_probe_side_is_rare_prefix_subset(spark, sf_dir):
    """The containment candidate join probes the RARE-PREFIX subset
    (row_number over df-ordered shingles, pigeonhole-filtered) against
    the full index - never shingles x shingles: the plan stays
    equi-join-only with a bounded shuffle budget, and the prefix rank's
    Window sits upstream of the candidate join."""
    df = QUERIES["containment_neardup"](spark, sf_dir)
    plan = PI.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # prefix rank window + its pigeonhole filter exist
    assert "row_number" in plan
    # stage budget: shingle agg x2, window, candidate + verify joins -
    # a fixed-constant shuffle count, not one that grows with data
    assert PI.shuffle_count(df) <= 14
    spark.catalog.clearCache()


def test_corpus_mix_plan_tree_bounded(spark, sf_dir):
    """Regression gate for the round-6 analyzed-tree blowup, tightened
    by the r13 localCheckpoint truncation: every multi-consumer funnel
    frame is now a materialized LEAF (composed: checkpoint leaves;
    staged: parquet leaves + checkpoint leaves in the shared tail), so
    BOTH analyzed trees must stay ~dozens of node lines (measured 68
    each; they share _mix_funnel_tail, hence equal). Pre-r13 the
    persist-based composed tree was 3,980 lines / 1.9 MB formatted and
    cost ~12 s of flat driver analysis+planning per action; a return
    above the bound means a truncation point stopped materializing."""
    df = QUERIES["corpus_mix_plan"](spark, sf_dir)
    lines = PI.analyzed_tree_lines(df)
    assert lines < 300, f"analyzed tree blew up: {lines} node lines"
    spark.catalog.clearCache()
    staged = QUERIES["corpus_mix_plan_staged"](spark, sf_dir)
    slines = PI.analyzed_tree_lines(staged)
    assert slines <= lines, f"staged ({slines}) deeper than composed ({lines})"
    assert slines < 300, f"staged tree blew up: {slines} node lines"
    spark.catalog.clearCache()


def test_fan_out_gate_spreads_narrow_and_skips_wide(spark, sf_dir):
    """The r14 scale-safety gate on every input-edge fan-out: the local
    fixture scans as ONE split, so the gate must ADD the round-robin
    spread there - but repartition(n) plans as REPARTITION_BY_NUM,
    which is exempt from AQE coalescing, so on an input already >=
    defaultParallelism partitions (a production corpus scan) the gate
    must add NOTHING: an unconditional spread would force a full
    payload shuffle of the corpus and could coalesce a wider scan DOWN
    to defaultParallelism."""
    from nyc_government_hiring_audit_data_platform_spark import driver_queries as DQ

    par = spark.sparkContext.defaultParallelism
    docs = DQ.table(spark, sf_dir, "documents").select("doc_id", "text")
    # fixture premise: the single-row-group scan is narrower than par
    width = DQ.scan_width(spark, sf_dir, "documents")
    if width >= par:
        pytest.skip(f"fixture scans {width} >= {par} splits; gate untestable here")

    # narrow input -> the spread exchange IS present (the r13 local wins survive)
    spread = DQ.fan_out(docs, width)
    plan = PI.physical_plan(spread)
    assert "REPARTITION_BY_NUM" in plan or "RoundRobinPartitioning" in plan, plan

    # wide input (fixture pre-spread to >= par) -> gate adds NO exchange:
    # fan_out returns the input df itself, so the only exchange in the
    # plan is the test's own pre-spread (hinted path checked on a fresh
    # df - the direct path's .rdd observation materializes AQE stages)
    gated = DQ.fan_out(docs.repartition(par), width=par)
    assert PI.shuffle_count(gated) == 1, PI.physical_plan(gated)
    wide = docs.repartition(par)
    assert DQ.fan_out(wide) is wide  # direct observation path
    assert DQ.fan_out(wide, width=par) is wide  # hinted path

    # the memoized width observation is stable across calls
    assert DQ.scan_width(spark, sf_dir, "documents") == width


def test_checkpoint_boundary_demo_vs_production(spark, sf_dir):
    """The localCheckpoint trade (leaf plans + fast local planning, but
    blocks are NOT recomputable on executor loss and NOT dropped by
    clearCache) is a composed-DEMO device and must never creep into the
    production-shape lanes (VERDICT r13 ask #7):

    - the flagship fuzzy chain and the persisted-index incremental lane
      must plan with ZERO checkpoint leaves (no ExistingRDD scan) -
      their restartability story is lineage + the bucketed index table;
    - corpus_mix_plan_staged's phase boundaries must stay REAL parquet
      tables (a crash resumes from the last good table); its shared
      funnel tail may checkpoint (that is the documented demo trade,
      identical in the composed twin)."""
    for name in (
        "fuzzy_salary_matches",
        "fuzzy_lightcast_durations",
        "gold_salary_matches_unique",
        "fuzzy_incremental_union",
    ):
        plan = PI.physical_plan(QUERIES[name](spark, sf_dir))
        assert "ExistingRDD" not in plan, f"{name} plans a checkpoint leaf"
        spark.catalog.clearCache()
    staged = QUERIES["corpus_mix_plan_staged"](spark, sf_dir)
    plan = PI.physical_plan(staged)
    assert "spark_graft_staged" in plan, "staged phase tables missing from plan"
    assert plan.count("Scan parquet") >= 3, plan
    spark.catalog.clearCache()
