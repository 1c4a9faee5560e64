"""Plan-quality assertions: pushdown, pruning, broadcast, partial
aggregation, codegen. These encode the 100 TB design bar — a change
that silently turns a broadcast join into a shuffle or drops a
pushed filter fails here."""

from __future__ import annotations

from tests.conftest import SF_MED, SF_SMALL


def _q(name, spark):
    from distributed_mapreduce_p2p_spark import registry

    return registry.QUERIES[name](spark, SF_SMALL)


def test_range_filter_pushdown(spark):
    from distributed_mapreduce_p2p_spark.plans.explain import pushed_filters

    pf = " ".join(pushed_filters(_q("range_filter", spark)))
    assert "event_id" in pf and ("GreaterThanOrEqual" in pf or "IsNotNull" in pf), pf


def test_agg_pricing_pushdown_and_partial(spark):
    from distributed_mapreduce_p2p_spark.plans.explain import (
        has_partial_aggregate,
        pushed_filters,
        read_schemas,
    )

    df = _q("agg_pricing", spark)
    assert any("l_shipdate" in p for p in pushed_filters(df))
    assert has_partial_aggregate(df)
    # Column pruning: the scan must not read l_orderkey/l_partkey etc.
    schemas = " ".join(read_schemas(df))
    assert "l_returnflag" in schemas
    assert "l_partkey" not in schemas and "l_suppkey" not in schemas


def test_star_join_broadcasts_dimensions(spark):
    from distributed_mapreduce_p2p_spark.plans.explain import join_strategies

    strategies = join_strategies(_q("star_join_revenue", spark))
    assert "BroadcastHashJoin" in strategies, strategies
    assert "CartesianProduct" not in strategies


def test_wordcount_partial_agg_and_codegen(spark):
    from distributed_mapreduce_p2p_spark.plans.explain import (
        codegen_stage_count,
        has_partial_aggregate,
        shuffle_count,
    )

    df = _q("wordcount", spark)
    assert has_partial_aggregate(df), "map-side combine required for 100TB text"
    assert codegen_stage_count(df) >= 1
    assert shuffle_count(df) == 1, "word count must be a single exchange"


def test_wordcount_topk_no_global_sort_materialization(spark):
    from distributed_mapreduce_p2p_spark.plans.explain import explain_str

    plan = explain_str(_q("wordcount_topk", spark))
    assert "TakeOrderedAndProject" in plan, (
        "top-k must be partial-top-k merge, not a global sort + limit"
    )


def test_minhash_single_shuffle_for_signatures(spark):
    from distributed_mapreduce_p2p_spark.plans.explain import shuffle_count

    df = _q("minhash_signatures", spark)
    assert shuffle_count(df) <= 1, "wide agg must keep one exchange"


def test_scan_reads_only_needed_columns(spark):
    from distributed_mapreduce_p2p_spark.plans.explain import read_schemas

    df = _q("wordcount", spark)
    schemas = " ".join(read_schemas(df))
    assert "text" in schemas
    assert "lang" not in schemas and "source" not in schemas


def test_q3_topk_broadcast_and_pushdown(spark):
    from distributed_mapreduce_p2p_spark.plans.explain import (
        explain_str,
        join_strategies,
        pushed_filters,
    )

    df = _q("tpch_q3_shipping_priority", spark)
    plan = explain_str(df)
    assert "TakeOrderedAndProject" in plan, "top-10 must not be a global sort"
    assert "BroadcastHashJoin" in join_strategies(df)
    pf = " ".join(pushed_filters(df))
    assert "o_orderdate" in pf and "l_shipdate" in pf and "c_mktsegment" in pf


def test_interval_join_is_equi_not_nested_loop(spark):
    from distributed_mapreduce_p2p_spark.plans.explain import (
        explain_str,
        join_strategies,
    )

    df = _q("interval_overlap_join", spark)
    strategies = join_strategies(df)
    plan = explain_str(df)
    assert "CartesianProduct" not in strategies
    assert "BroadcastNestedLoopJoin" not in plan, (
        "interval predicate must ride the user_id equi-join"
    )


def test_grouping_sets_single_exchange(spark):
    from distributed_mapreduce_p2p_spark.plans.explain import (
        explain_str,
        has_partial_aggregate,
        shuffle_count,
    )

    df = _q("grouping_sets_agg", spark)
    assert "Expand" in explain_str(df)
    assert has_partial_aggregate(df)
    assert shuffle_count(df) == 1, "all grouping sets in one aggregate pass"


def test_stratified_sample_no_shuffle(spark):
    from distributed_mapreduce_p2p_spark.plans.explain import shuffle_count

    assert shuffle_count(_q("stratified_sample", spark)) == 0, (
        "hash sampling is a pure scan-side filter"
    )


def test_curation_pipeline_uses_semi_join(spark):
    from distributed_mapreduce_p2p_spark.plans.explain import (
        explain_str,
        join_strategies,
    )

    df = _q("curation_pipeline", spark)
    plan = explain_str(df)
    assert "LeftSemi" in plan or "ExistenceJoin" in plan, (
        "representative filtering must be a semi-join, not a full join"
    )
    assert "CartesianProduct" not in join_strategies(df)


def test_asof_join_is_equi_keyed(spark):
    from distributed_mapreduce_p2p_spark.plans.explain import (
        explain_str,
        join_strategies,
    )

    df = _q("asof_join_last_order", spark)
    strategies = join_strategies(df)
    plan = explain_str(df)
    assert "CartesianProduct" not in strategies
    assert "BroadcastNestedLoopJoin" not in plan, (
        "the time-range predicate must ride the custkey equi-join"
    )


def test_levenshtein_join_is_equi_keyed_broadcast(spark):
    from distributed_mapreduce_p2p_spark.plans.explain import (
        explain_str,
        join_strategies,
    )

    df = _q("levenshtein_close_names", spark)
    strategies = join_strategies(df)
    assert "BroadcastHashJoin" in strategies, strategies
    assert "CartesianProduct" not in strategies
    assert "BroadcastNestedLoopJoin" not in explain_str(df), (
        "the banded-DP predicate must ride the nationkey equi-join"
    )


def test_q5_broadcasts_all_dimensions(spark):
    from distributed_mapreduce_p2p_spark.plans.explain import (
        join_strategies,
        pushed_filters,
    )

    df = _q("tpch_q5_local_supplier_volume", spark)
    strategies = join_strategies(df)
    from distributed_mapreduce_p2p_spark.plans.explain import explain_str

    assert explain_str(df).count("BroadcastHashJoin") >= 4, (
        "customer/supplier/nation/region must all broadcast: "
        f"{strategies}"
    )
    assert "CartesianProduct" not in strategies
    pf = " ".join(pushed_filters(df))
    assert "o_orderdate" in pf and "r_name" in pf


def test_q7_pushdown_and_no_plan_duplication(spark):
    from distributed_mapreduce_p2p_spark.plans.explain import (
        explain_str,
        join_strategies,
        pushed_filters,
    )

    df = _q("tpch_q7_volume_shipping", spark)
    strategies = join_strategies(df)
    assert "BroadcastHashJoin" in strategies
    assert "CartesianProduct" not in strategies
    assert " ".join(pushed_filters(df)).count("l_shipdate") >= 1
    # The OR nation-pair predicate must not duplicate the lineitem scan
    # (6 base relations -> at most 6 scan nodes in the plan tree).
    assert explain_str(df, "simple").count("Scan parquet") <= 6


def test_basket_pairs_equi_join_and_partial_agg(spark):
    from distributed_mapreduce_p2p_spark.plans.explain import (
        has_partial_aggregate,
        join_strategies,
    )

    df = _q("basket_pairs_lift", spark)
    strategies = join_strategies(df)
    assert "CartesianProduct" not in strategies, (
        "pair generation must ride the l_orderkey equi-join"
    )
    assert has_partial_aggregate(df)


def test_tfidf_no_cartesian_and_pruned_scan(spark):
    from distributed_mapreduce_p2p_spark.plans.explain import (
        join_strategies,
        read_schemas,
    )

    df = _q("tfidf_top_terms", spark)
    assert "CartesianProduct" not in join_strategies(df)
    schemas = " ".join(read_schemas(df))
    assert "lang" not in schemas and "source" not in schemas, (
        "tfidf must scan only doc_id+text"
    )


def test_triangle_wedge_join_is_equi(spark):
    from distributed_mapreduce_p2p_spark.plans.explain import join_strategies

    df = _q("trade_graph_triangles", spark)
    assert "CartesianProduct" not in join_strategies(df), (
        "wedge + closing-edge joins must be hash equi-joins"
    )


def test_cosine_topk_and_resample_no_cartesian(spark):
    from distributed_mapreduce_p2p_spark.plans.explain import join_strategies

    for name in ("supplier_cosine_topk", "resample_ffill"):
        assert "CartesianProduct" not in join_strategies(_q(name, spark)), name


def test_q19_disjunction_pushes_to_both_scans(spark):
    from distributed_mapreduce_p2p_spark.plans.explain import (
        join_strategies,
        pushed_filters,
    )

    df = _q("tpch_q19_disjunctive_filter", spark)
    pf = " ".join(pushed_filters(df))
    assert "l_quantity" in pf and "p_brand" in pf and "p_size" in pf, (
        "Catalyst must factor the cross-side OR into per-scan constraints"
    )
    assert "CartesianProduct" not in join_strategies(df)


def test_basket_cap_is_noop_on_testdata(spark):
    """The quadratic-explosion guard (registry._BASKET_CAP) must not
    change results at testdata scale — TPC-H baskets are ≤7 items —
    while provably bounding pairs-per-basket by construction."""
    from pyspark.sql import functions as F

    from distributed_mapreduce_p2p_spark import registry
    from distributed_mapreduce_p2p_spark.sources.io import read_table

    items = (
        read_table(spark, SF_MED, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    max_basket = (
        items.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("m"))
        .collect()[0].m
    )
    assert max_basket <= registry._BASKET_CAP, (
        f"cap {registry._BASKET_CAP} would clip real baskets "
        f"(max {max_basket}) — oracle parity would break"
    )

    # And the capped query bounds a synthetic hub basket: 100 copies
    # of one order must yield at most cap*(cap-1)/2 pairs.
    hub = spark.range(100).select(
        F.lit(1).alias("l_orderkey"), F.col("id").alias("l_partkey")
    )
    w = registry.Window.partitionBy("l_orderkey").orderBy("l_partkey")
    capped = (
        hub.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= registry._BASKET_CAP)
        .drop("rn")
    )
    a, b = capped.alias("a"), capped.alias("b")
    n_pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        ).count()
    )
    cap = registry._BASKET_CAP
    assert n_pairs == cap * (cap - 1) // 2


def test_decontaminate_kgrams_and_broadcast(spark):
    """benchmark_decontaminate: (a) the k-gram generator is exact on a
    known sentence; (b) the benchmark side of the match is BROADCAST —
    at 100 TB the corpus-side k-gram scan must never shuffle for the
    join (benchmark suites are tiny)."""
    from distributed_mapreduce_p2p_spark.operators.dedup import kgrams
    from distributed_mapreduce_p2p_spark.plans.explain import join_strategies

    one = spark.createDataFrame(
        [(1, "The quick brown fox JUMPS over the dog")],
        "doc_id long, text string",
    )
    got = {r.sh for r in kgrams(one, 5).collect()}
    assert got == {
        "the quick brown fox jumps",
        "quick brown fox jumps over",
        "brown fox jumps over the",
        "fox jumps over the dog",
    }, got
    # shorter than k -> no grams, no crash
    assert kgrams(
        spark.createDataFrame([(2, "too short")], "doc_id long, text string"),
        5,
    ).count() == 0

    strategies = join_strategies(_q("benchmark_decontaminate", spark))
    assert "BroadcastHashJoin" in strategies, strategies
    assert "CartesianProduct" not in strategies


def test_hub_cap_is_noop_on_testdata(spark):
    """supplier_cosine_topk's hub guard (registry._HUB_CAP) truncates
    each part's incidence list before the co-occurrence self-join.
    At TPC-H fan-out (4 suppliers per part) it must be a provable
    no-op — max per-part supplier count stays far under the cap —
    while bounding pairs-per-part at cap·(cap-1)/2 on a synthetic
    hub part."""
    from pyspark.sql import functions as F

    from distributed_mapreduce_p2p_spark import registry
    from distributed_mapreduce_p2p_spark.sources.io import read_table

    inc = (
        read_table(spark, SF_MED, "lineitem")
        .select("l_suppkey", "l_partkey")
        .distinct()
    )
    max_fanout = (
        inc.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("m"))
        .collect()[0].m
    )
    assert max_fanout <= registry._HUB_CAP, (
        f"cap {registry._HUB_CAP} would clip real parts "
        f"(max fan-out {max_fanout}) — oracle parity would break"
    )

    # Synthetic hub: one part with 500 suppliers must contribute at
    # most cap·(cap-1)/2 pairs through the capped plan.
    hub = spark.range(500).select(
        F.lit(1).alias("l_partkey"), F.col("id").alias("l_suppkey")
    )
    w = registry.Window.partitionBy("l_partkey").orderBy("l_suppkey")
    capped = (
        hub.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= registry._HUB_CAP)
        .drop("_rn")
    )
    a, b = capped.alias("a"), capped.alias("b")
    n_pairs = a.join(
        b,
        (F.col("a.l_partkey") == F.col("b.l_partkey"))
        & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
    ).count()
    cap = registry._HUB_CAP
    assert n_pairs == cap * (cap - 1) // 2


def test_mixture_reweight_single_scan(spark):
    """Corpus totals must come from the post-agg window, not a second
    aggregation branch — the crossJoin formulation read the parquet
    twice (two agg subtrees pruning differently defeat
    ReuseExchange)."""
    from distributed_mapreduce_p2p_spark.plans.explain import (
        explain_str,
        shuffle_count,
    )

    df = _q("mixture_reweight", spark)
    plan = explain_str(df, "simple")
    assert plan.count("FileScan") == 1, plan
    # one agg exchange + one SinglePartition exchange for the tiny
    # bucket-table window
    assert shuffle_count(df) <= 2


def test_global_shuffle_and_scd2_single_exchange(spark):
    from distributed_mapreduce_p2p_spark.plans.explain import shuffle_count

    assert shuffle_count(_q("global_shuffle_order", spark)) == 1
    # scd2: both windows must share the one user_id exchange (the
    # second window's (valid_from, event_id) order is the first's
    # (ts, event_id) order renamed — no second sort/shuffle)
    assert shuffle_count(_q("scd2_history", spark)) == 1


def test_doc_chunking_no_shuffle_pruned_scan(spark):
    from distributed_mapreduce_p2p_spark.plans.explain import (
        read_schemas,
        shuffle_count,
    )

    df = _q("doc_chunking", spark)
    assert shuffle_count(df) == 0
    schemas = " ".join(read_schemas(df))
    assert "text" in schemas and "lang" not in schemas, schemas


def test_source_reputation_partial_agg_pruned_scan(spark):
    from distributed_mapreduce_p2p_spark.plans.explain import (
        has_partial_aggregate,
        read_schemas,
        shuffle_count,
    )

    df = _q("source_reputation", spark)
    assert shuffle_count(df) == 1
    assert has_partial_aggregate(df)
    schemas = " ".join(read_schemas(df))
    assert "doc_id" not in schemas and "lang" not in schemas, schemas


def test_q2_broadcasts_dims_and_pushes_filters(spark):
    """TPC-H Q2 analog: the correlated min decorrelates to a window
    over ONE partkey exchange; part/supplier/nation/region all attach
    as broadcasts with their filters pushed into the scans. Since the
    r9 wave-2 restructure, part and supplier broadcast UNHINTED as
    size-estimable leaves (they fall back to shuffle joins at scale)
    and only the 25-row nation x region composite carries a hint —
    this test proving >=4 BroadcastHashJoin / no SortMergeJoin at
    fixture scale IS the evidence that size-based planning re-derives
    the old physical strategy without the forced build sides."""
    from distributed_mapreduce_p2p_spark.plans.explain import (
        join_strategies,
        pushed_filters,
        shuffle_count,
    )

    from distributed_mapreduce_p2p_spark.plans.explain import explain_str

    df = _q("tpch_q2_min_cost_supplier", spark)
    strategies = join_strategies(df)
    assert explain_str(df, "simple").count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in strategies
    pf = " ".join(pushed_filters(df))
    assert "EqualTo(p_type" in pf and "EqualTo(r_name" in pf, pf
    # one exchange for the per-part window + one for the final distinct
    assert shuffle_count(df) <= 2


def test_runtime_bloom_filter_join_pruning(spark):
    """100 TB technique pin: Spark's runtime bloom filter injects a
    might_contain() pre-filter on the fact side of a selective join,
    pruning shuffle input before the exchange. Conditions encoded
    here: the BUILD side must pass the creation-side size threshold,
    the PROBE side the application-side scan threshold, and the join
    must not be a broadcast (BHJ already prunes, so Spark skips the
    filter)."""
    from pyspark.sql import functions as F

    from distributed_mapreduce_p2p_spark.sources.io import (
        read_table,
        scoped_conf,
    )
    from tests.conftest import SF_MED

    li = read_table(spark, SF_MED, "lineitem")
    orders = read_table(spark, SF_MED, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    with scoped_conf(
        spark,
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "100MB",
    ):
        with scoped_conf(
            spark,
            "spark.sql.optimizer.runtime.bloomFilter"
            ".applicationSideScanSizeThreshold",
            "0",
        ):
            with scoped_conf(
                spark, "spark.sql.autoBroadcastJoinThreshold", "-1"
            ):
                df = (
                    li.join(orders, li.l_orderkey == orders.o_orderkey)
                    .groupBy("o_orderpriority")
                    .agg(F.count(F.lit(1)).alias("cnt"))
                )
                from distributed_mapreduce_p2p_spark.plans.explain import (
                    explain_str,
                )

                plan = explain_str(df, "simple").lower()
                assert "might_contain" in plan, (
                    "runtime bloom filter did not inject"
                )
                # and the result is still exact
                row = df.collect()[0]
                expected = (
                    li.join(
                        orders.hint("broadcast"),
                        li.l_orderkey == orders.o_orderkey,
                    ).count()
                )
                assert row.cnt == expected


def test_q6_all_predicates_reach_the_scan(spark):
    """Q6 is THE pushdown query: ship-date bounds and quantity must
    appear in the parquet PushedFilters, and the plan must contain no
    join and exactly one (1-row) aggregate exchange."""
    from distributed_mapreduce_p2p_spark.plans.explain import (
        explain_str,
        pushed_filters,
        shuffle_count,
    )

    df = _q("tpch_q6_forecast_revenue", spark)
    pf = " ".join(pushed_filters(df))
    assert "l_shipdate" in pf and "l_quantity" in pf
    plan = explain_str(df)
    assert "Join" not in plan
    assert shuffle_count(df) == 1


def test_q3_topk_is_take_ordered_not_global_sort(spark):
    """The top-10 must compile to TakeOrderedAndProject (partial
    per-partition top-k), never a full global Sort materialization,
    and the ranking column must still be the exact decimal."""
    from distributed_mapreduce_p2p_spark.plans.explain import explain_str

    df = _q("tpch_q3_shipping_priority", spark)
    plan = explain_str(df)
    assert "TakeOrderedAndProject" in plan
    assert "rev_dec" in plan


def test_q21_double_exists_is_one_fact_shuffle(spark):
    """The EXISTS + NOT-EXISTS pair must be decorrelated into the
    per-order aggregate — no semi/anti join against lineitem in the
    plan, and no more than 3 exchanges total (per-order agg, re-join,
    final count)."""
    from distributed_mapreduce_p2p_spark.plans.explain import (
        explain_str,
        shuffle_count,
    )

    df = _q("tpch_q21_sole_returner", spark)
    plan = explain_str(df)
    assert "LeftSemi" not in plan and "LeftAnti" not in plan
    assert shuffle_count(df) <= 3, shuffle_count(df)


def test_bm25_query_side_broadcasts(spark):
    """The 3-term query table must reach the tf probe as a broadcast
    join (the probe-side kill that makes BM25 scale), and the plan
    must contain no cartesian product."""
    from distributed_mapreduce_p2p_spark.plans.explain import explain_str

    df = _q("bm25_scores", spark)
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_overlap_and_containment_join_on_shingle_hash(spark):
    """Cross-source overlap and containment decontamination must pair
    docs through an equi-join (SortMerge/Hash) on the shingle — never
    a nested-loop or cartesian doc x doc comparison."""
    from distributed_mapreduce_p2p_spark.plans.explain import explain_str

    for name in ("source_overlap_matrix", "containment_decontaminate"):
        plan = explain_str(_q(name, spark))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
            "BroadcastHashJoin" in plan
        ), name


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """Dynamic partition pruning: a fact table partitioned on the
    join key must be pruned at RUNTIME by the dimension's filter —
    the plan carries a dynamicpruning subquery on the partition
    column, so a 100 TB partitioned lake scans only the partitions
    the filtered dimension selects."""
    fact = str(tmp_path / "fact")
    spark.range(1000).selectExpr(
        "id", "id % 20 AS part_k", "id * 2 AS v"
    ).write.partitionBy("part_k").parquet(fact)
    dim = spark.range(20).selectExpr(
        "id AS part_k", "concat('n', id) AS name"
    ).where("part_k IN (3, 7)")
    f = spark.read.parquet(fact)
    prev = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.enabled")
    try:
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.enabled", "true"
        )
        joined = f.join(dim, "part_k").groupBy("name").count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan[:2000]
        rows = {r.name: r["count"] for r in joined.collect()}
        assert rows == {"n3": 50, "n7": 50}
    finally:
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.enabled", prev
        )


def test_cached_subplan_is_reused_in_memory(spark):
    """Explicit caching: a cached intermediate must appear as
    InMemoryTableScan in dependent plans (compute once, reuse across
    queries — the interactive-analysis lever)."""
    from tests.conftest import SF_SMALL

    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    base = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).cache()
    try:
        base.count()  # materialize
        q2 = base.where("n > 0").select(F.sum("n"))
        plan = q2._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan
        assert q2.collect()[0][0] == docs.count()
    finally:
        base.unpersist()


def test_q16_not_in_is_null_aware_anti_join(spark):
    """NOT IN must compile to the null-aware broadcast anti join
    (BroadcastHashJoin ... LeftAnti, BuildRight, true) — the variant
    whose semantics differ from NOT EXISTS under NULLs, and the only
    NAAJ form that scales (build side broadcast)."""
    df = _q("tpch_q16_supplier_counts", spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    anti_lines = [l for l in plan.splitlines() if "LeftAnti" in l]
    assert anti_lines, plan[:1500]
    assert any(
        "BroadcastHashJoin" in l and l.rstrip().endswith("true")
        for l in anti_lines
    ), anti_lines


def test_q9_three_broadcast_dims_one_fact_shuffle_join(spark):
    """Q9 shape: part/supplier/nation attach as broadcasts with the
    p_name filter pushed to the part scan; only the lineitem-orders
    fact join shuffles."""
    from distributed_mapreduce_p2p_spark.plans.explain import (
        explain_str,
        pushed_filters,
    )

    df = _q("tpch_q9_profit_shape", spark)
    simple = explain_str(df, "simple")
    assert simple.count("BroadcastHashJoin") >= 3
    pf = " ".join(pushed_filters(df))
    assert "p_name" in pf, pf


def test_merge_upsert_is_one_join(spark):
    """MERGE compiles to exactly one (full outer) join over the key —
    no extra anti/semi passes for the delete branch."""
    from distributed_mapreduce_p2p_spark.plans.explain import explain_str

    simple = explain_str(_q("merge_upsert_batch", spark), "simple")
    assert simple.count("Join") == 1, simple
    assert "FullOuter" in simple


def test_interval_islands_single_key_exchange(spark):
    """Both window passes and the two aggregations reuse ONE hash
    exchange on the customer key — the island algorithm adds no
    shuffle beyond the partitioning itself."""
    from distributed_mapreduce_p2p_spark.plans.explain import shuffle_count

    assert shuffle_count(_q("interval_merge_islands", spark)) <= 2


def test_tokenizer_apply_broadcasts_vocab(spark):
    """The corpus joins the (word -> n_tokens) map by broadcast; the
    corpus side is never shuffled for the join."""
    from distributed_mapreduce_p2p_spark.plans.explain import explain_str

    simple = explain_str(_q("tokenizer_apply_bpe", spark), "simple")
    assert "BroadcastHashJoin" in simple


def test_numbered_scalable_no_single_partition_exchange(spark):
    """The scale-path S4 twin must number rows WITHOUT funneling data
    through one partition: no SinglePartition exchange and no
    partition-less window anywhere in its plan (the demo form
    ``wordcount_numbered`` deliberately has one — reference-faithful
    for a 26k-row result table; this pins the scalable twin as the
    100 TB path)."""
    from distributed_mapreduce_p2p_spark.plans.explain import explain_str

    df = _q("wordcount_numbered_scalable", spark)
    simple = explain_str(df, "simple")
    # broadcast join carries the offsets; the wide side is not
    # re-shuffled for it
    assert "BroadcastHashJoin" in simple
    # The offsets table (n_parts rows, groupBy(pid) then a running
    # total) may legitimately pass through ONE SinglePartition
    # exchange before being broadcast. The data side must never: its
    # window is partitioned by pid and its exchanges hash/range
    # partitioned.
    assert simple.count("SinglePartition") <= 1, simple
    # the demo form, by contrast, owns a global-order window: pin the
    # contrast so a future edit can't silently swap them
    demo = explain_str(_q("wordcount_numbered", spark), "simple")
    assert demo.count("SinglePartition") >= 1, demo


def test_abc_cumsum_no_single_partition_exchange(spark):
    """abc_classification's exact global cumulative sum must run as
    the two-phase partition-offset form: data-side windows are
    partitioned by pid, offsets arrive by broadcast, and at most the
    tiny per-partition totals table passes through a SinglePartition
    exchange (contrast: its ORACLE is the demo SUM() OVER (ORDER BY)
    single-partition form)."""
    from distributed_mapreduce_p2p_spark.plans.explain import explain_str

    simple = explain_str(_q("abc_classification", spark), "simple")
    assert "BroadcastHashJoin" in simple
    assert simple.count("SinglePartition") <= 1, simple


def test_sequence_packing_no_single_partition_exchange(spark):
    """sequence_packing's corpus-wide running token sum must run as
    the two-phase global_cumsum (range-repartition + per-pid windows +
    broadcast offsets), NOT a partition-less Window.orderBy that
    serializes the whole corpus through one task (the r6 verdict's
    one scale-killer finding). At most the n_parts-row offsets table
    passes through a SinglePartition exchange."""
    from distributed_mapreduce_p2p_spark.plans.explain import explain_str

    simple = explain_str(_q("sequence_packing", spark), "simple")
    assert "BroadcastHashJoin" in simple
    assert simple.count("SinglePartition") <= 1, simple


def test_window_whitelist_self_verification(spark):
    """The audit's bounded-window whitelist must be mechanical, not
    prose (r7 verdict item 4): window_input_bounded flags a
    hand-broken entry — an unpartitioned window fed straight off a
    fact scan, the sequence_packing r6 shape — and accepts a genuine
    post-agg cell window. tools/audit_plans.py routes every
    WINDOW_WHITELIST row through this check, so a whitelisted name
    whose input quietly grows back to fact scale turns the audit red
    instead of printing ok."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from distributed_mapreduce_p2p_spark.plans.explain import (
        explain_str,
        unpartitioned_window_nodes,
        window_input_bounded,
    )
    from distributed_mapreduce_p2p_spark.sources.io import read_table

    ev = read_table(spark, SF_SMALL, "events").select(
        "event_id", "user_id"
    )
    bad = ev.withColumn(
        "rn", F.row_number().over(Window.orderBy("event_id"))
    )
    plan = explain_str(bad, "simple")
    nodes = unpartitioned_window_nodes(plan)
    assert nodes, plan
    assert not window_input_bounded(plan, nodes[0]), plan

    cells = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    good = cells.withColumn(
        "rn", F.row_number().over(Window.orderBy("n", "user_id"))
    )
    plan2 = explain_str(good, "simple")
    nodes2 = unpartitioned_window_nodes(plan2)
    assert nodes2, plan2
    assert window_input_bounded(plan2, nodes2[0]), plan2


def test_equidepth_bins_no_single_partition_ntile(spark):
    """equidepth_bins must derive NTILE from the two-phase
    global_cumsum rank (range-repartition + per-pid windows +
    broadcast offsets) — the single-partition NTILE window of the
    r1-r7 form serialized the whole orders table through one task
    (r7 verdict item 2). At most the n_parts-row offsets table plus
    the final tiny merge pass through SinglePartition; no
    unpartitioned window may touch fact rows (the only one allowed
    operates on _psum, the n_parts per-partition totals)."""
    from distributed_mapreduce_p2p_spark.plans.explain import (
        explain_str,
        unpartitioned_window_nodes,
    )

    simple = explain_str(_q("equidepth_bins", spark), "simple")
    assert "BroadcastHashJoin" in simple
    assert simple.count("SinglePartition") <= 1, simple
    for node in unpartitioned_window_nodes(simple):
        assert "_psum" in node, node


def test_embedding_norm_outliers_no_single_partition_rank(spark):
    """embedding_norm_outliers must compute its global percentile
    rank via the two-phase global_cumsum (r7 verdict item 2 — the
    old single-partition row_number serialized the embeddings
    table). Same pin shape as equidepth_bins."""
    from distributed_mapreduce_p2p_spark.plans.explain import (
        explain_str,
        unpartitioned_window_nodes,
    )

    simple = explain_str(_q("embedding_norm_outliers", spark), "simple")
    assert "BroadcastHashJoin" in simple
    assert simple.count("SinglePartition") <= 1, simple
    for node in unpartitioned_window_nodes(simple):
        assert "_psum" in node, node


def test_mcc_median_pick_no_fact_scale_single_partition(spark):
    """mcc_binary_rule's global median comes from distinct-value
    cells through global_cumsum — the full-fact unpartitioned
    row_number sort of the first draft (r6 ADVICE) must not return.
    Exactly two SinglePartition exchanges are structural and tiny:
    the final merge of the 4-cell confusion scalar aggregate
    (partial-aggregated rows, one per task) and the n_parts-row
    offsets table inside global_cumsum. The fact table itself flows
    only through hash/range exchanges, and the only window is the
    per-_pid one."""
    from distributed_mapreduce_p2p_spark.plans.explain import explain_str

    simple = explain_str(_q("mcc_binary_rule", spark), "simple")
    assert simple.count("SinglePartition") <= 2, simple
    # no fact-scale partition-less window: any unpartitioned Window
    # in the plan may only be global_cumsum's n_parts-row offsets
    # roll-up (operates on _psum, the per-partition totals)
    import re

    for m in re.finditer(r"Window \[[^\n]*", simple):
        spec = m.group(0)
        unpartitioned = "windowspecdefinition(specifiedwindowframe" in spec
        assert not unpartitioned or "_psum" in spec, spec


def test_gap_detect_no_fact_scale_single_partition(spark):
    """detect_gaps must run the two-phase boundary-stitched lag
    (range-repartition + per-pid windows + broadcast prev-partition
    max), not the single Window.orderBy(id) it shipped with until r7:
    at most the n_parts-row bounds table is unpartitioned."""
    from distributed_mapreduce_p2p_spark.plans.explain import (
        explain_str,
        unpartitioned_window_nodes,
    )

    df = _q("gap_detect", spark)
    simple = explain_str(df, "simple")
    assert "BroadcastHashJoin" in simple
    for node in unpartitioned_window_nodes(simple):
        assert "_pmax" in node, node


def test_vocab_growth_cumsum_is_two_phase(spark):
    """vocab_growth's running vocabulary sum must be global_cumsum
    (vocab-bounded is not constant-bounded at 100 TB): any
    unpartitioned window in the plan is the n_parts-row _psum offsets
    roll-up."""
    from distributed_mapreduce_p2p_spark.plans.explain import (
        explain_str,
        unpartitioned_window_nodes,
    )

    simple = explain_str(_q("vocab_growth", spark), "simple")
    assert "BroadcastHashJoin" in simple
    for node in unpartitioned_window_nodes(simple):
        assert "_psum" in node, node


def test_gini_mean_difference_only_per_nation_windows(spark):
    """gini_mean_difference must carry no unpartitioned window at all:
    the rank identity is tie-invariant, so the per-nation rank window
    is the only one (the dropped o_rk lane was a global fact-table
    sort — r6 ADVICE)."""
    from distributed_mapreduce_p2p_spark.plans.explain import explain_str

    simple = explain_str(_q("gini_mean_difference", spark), "simple")
    assert simple.count("SinglePartition") == 0, simple


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """Hive-style partitioned fact + filtered dim join triggers
    dynamic partition pruning: the fact scan carries a
    dynamicpruning subquery on the partition column and reads only
    the selected partitions' files — the scan shape every 100 TB
    star join depends on (a full-scan plan here would be a
    scale-killer)."""
    from tests.conftest import SF_SMALL

    fact = str(tmp_path / "li_part")
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    li.write.partitionBy("l_returnflag").mode("overwrite").parquet(fact)
    dim = spark.createDataFrame(
        [("R", "returned")], ["flag", "label"]
    )
    f = spark.read.parquet(fact)
    j = f.join(dim, f.l_returnflag == dim.flag).where(
        dim.label == "returned"
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    got = j.count()
    want = li.where("l_returnflag = 'R'").count()
    assert got == want and got > 0


def test_unpartitioned_window_parser_fixtures():
    """The audit's 1p-window detector must classify the three physical
    Window spellings correctly on pinned plan-text fixtures (the
    sweep's integrity rests on this parse): 3 bracket groups =
    partitioned; 2 groups with ASC/DESC = order-only (flag); 2 groups
    without = partition-no-order (fine); 1 group = empty frame (flag);
    AQE Initial Plan section ignored; nested brackets inside window
    exprs don't break group counting."""
    from distributed_mapreduce_p2p_spark.plans.explain import (
        unpartitioned_window_nodes,
    )

    part = (
        "+- Window [sum(id#0L) windowspecdefinition(g#1L, id#0L ASC"
        " NULLS FIRST, specifiedwindowframe(RangeFrame,"
        " unboundedpreceding$(), currentrow$())) AS s#2L], [g#1L],"
        " [id#0L ASC NULLS FIRST]"
    )
    order_only = (
        "+- Window [sum(id#0L) windowspecdefinition(id#0L ASC NULLS"
        " FIRST, specifiedwindowframe(RangeFrame,"
        " unboundedpreceding$(), currentrow$())) AS s#4L],"
        " [id#0L ASC NULLS FIRST]"
    )
    part_no_order = (
        "+- Window [count(1) windowspecdefinition(n_name#1,"
        " specifiedwindowframe(RowFrame, unboundedpreceding$(),"
        " unboundedfollowing$())) AS n#2L], [n_name#1]"
    )
    empty = (
        "+- Window [sum(id#0L) windowspecdefinition("
        "specifiedwindowframe(RowFrame, unboundedpreceding$(),"
        " unboundedfollowing$())) AS s#6L]"
    )
    nested = (
        "+- Window [aggregate(arr#3, 0, lambdafunction((acc#4 +"
        " x#5), acc#4, x#5)) AS f#6], [k#7], [o#8 ASC NULLS FIRST]"
    )
    assert unpartitioned_window_nodes(part) == []
    assert len(unpartitioned_window_nodes(order_only)) == 1
    assert unpartitioned_window_nodes(part_no_order) == []
    assert len(unpartitioned_window_nodes(empty)) == 1
    assert unpartitioned_window_nodes(nested) == []
    # AQE: only the final plan is scanned
    aqe = (
        "== Physical Plan ==\nfinal stuff\n== Initial Plan ==\n"
        + order_only
    )
    assert unpartitioned_window_nodes(aqe) == []
    # multi-node plan counts each flagged node once
    both = part + "\n" + order_only + "\n" + empty
    assert len(unpartitioned_window_nodes(both)) == 2


def test_dsir_ratio_join_broadcasts_feature_table(spark):
    """dsir_importance_weights must broadcast the 128-row smoothed
    ratio table back onto the bigram stream (BroadcastHashJoin — the
    fact-scale side is never shuffled for the feature join), and its
    only windows are per-source: no fact-scale partition-less window
    may appear."""
    from distributed_mapreduce_p2p_spark.plans.explain import (
        explain_str,
        unpartitioned_window_nodes,
    )

    simple = explain_str(_q("dsir_importance_weights", spark), "simple")
    assert "BroadcastHashJoin" in simple
    assert not unpartitioned_window_nodes(simple), simple


def test_ivf_recall_curve_shares_one_candidate_pass(spark):
    """The recall curve must pay the corpus only once — structurally
    (r8 ADVICE): the scored candidate table and the brute ground
    truth are localCheckpoint-materialized before the nprobe loop, so
    the visible plan reads ``Scan ExistingRDD`` for all six
    per-nprobe aggregates (3 hits + 3 candidate counts) and 3 hits
    joins instead of re-running the corpus-wide assignment/brute
    subplans (exchange reuse cannot bridge their broadcast vs shuffle
    forms). The only BNLJs left visible are the three 1-row
    hits x candidates scalar attaches; no CartesianProduct, every
    ranking window partitioned."""
    from distributed_mapreduce_p2p_spark.plans.explain import (
        explain_str,
        unpartitioned_window_nodes,
    )

    simple = explain_str(_q("ivf_recall_curve", spark), "simple")
    assert "CartesianProduct" not in simple
    assert "BroadcastNestedLoopJoin" in simple
    # 6 reads of the checkpointed sims + 3 of the checkpointed exact
    assert simple.count("Scan ExistingRDD") >= 6, simple
    assert not unpartitioned_window_nodes(simple), simple


def _is_filter_node(line: str) -> bool:
    """A Filter PLAN NODE (not a FileScan whose DataFilters text also
    mentions the predicate), with or without a codegen marker."""
    import re

    return re.match(r"^(\*\(\d+\) )?Filter ", line) is not None


def _assert_hinted_embedding_broadcasts_sliced(simple: str) -> None:
    """Every BroadcastExchange subtree that scans the embeddings
    parquet must carry one vec_id SLICE filter (``vec_id# < n``) per
    scan — isnotnull alone doesn't bound anything. Call with
    autoBroadcastJoinThreshold=-1 so only HINTED broadcasts remain in
    the plan (a size-based auto-broadcast of a small side is fine —
    it degrades to SMJ at scale; a hinted full-table broadcast OOMs
    executors regardless of size, the r8 ADVICE finding)."""
    from distributed_mapreduce_p2p_spark.plans.explain import node_subtrees

    import re

    subs = node_subtrees(simple, lambda s: s.startswith("BroadcastExchange"))
    assert subs, simple
    agg = re.compile(r"^(\*\(\d+\) )?(Hash|Sort|ObjectHash)Aggregate")
    for sub in subs:
        if sub and agg.match(sub[0]):
            # a broadcast OF AN AGGREGATE ships only the aggregated
            # rows (the 1-row candidate-count attach) — its subtree
            # may scan the corpus, but the corpus never ships
            continue
        scans = [
            l for l in sub
            if "embeddings" in l and "FileScan parquet" in l
        ]
        if not scans:
            continue  # 1-row literal attaches etc.
        slice_filters = [
            l for l in sub
            if _is_filter_node(l) and "vec_id#" in l and "< " in l
        ]
        assert len(slice_filters) >= len(scans), "\n".join(sub)


def _no_auto_broadcast(spark):
    import contextlib

    @contextlib.contextmanager
    def ctx():
        key = "spark.sql.autoBroadcastJoinThreshold"
        old = spark.conf.get(key)
        spark.conf.set(key, "-1")
        try:
            yield
        finally:
            spark.conf.set(key, old)

    return ctx()


def test_ivf_recall_curve_broadcast_sides_filtered(spark):
    """No fact-scale hinted broadcast (r8 ADVICE): the r7 draft
    broadcast the ENTIRE base before the qid join (correct results,
    OOM at scale). Asserted on the materialize=False form where the
    checkpointed subplans stay visible; the registered query wraps
    the same construction."""
    from distributed_mapreduce_p2p_spark.operators import similarity as SIM
    from distributed_mapreduce_p2p_spark.plans.explain import explain_str
    from distributed_mapreduce_p2p_spark.sources.io import read_table

    emb = read_table(spark, SF_SMALL, "embeddings")
    with _no_auto_broadcast(spark):
        df = SIM.ivf_recall_curve(emb, materialize=False)
        simple = explain_str(df, "simple")
    _assert_hinted_embedding_broadcasts_sliced(simple)


def test_ann_ivf_topk_single_assignment_pass_and_filtered_broadcasts(spark):
    """ivf_topk's corpus-scale centroid-assignment BNLJ must appear
    exactly once (probe lists rank only the |Q| query slice — r8
    split: a vector's cell ranking is independent of other vectors),
    and every hinted embeddings-scanning broadcast side carries a
    vec_id slice filter (never a full-base broadcast — r8 ADVICE)."""
    from distributed_mapreduce_p2p_spark.plans.explain import (
        explain_str,
        node_subtrees,
    )

    with _no_auto_broadcast(spark):
        simple = explain_str(_q("ann_ivf_topk", spark), "simple")
    assert "CartesianProduct" not in simple
    bnlj_subs = node_subtrees(
        simple, lambda s: "BroadcastNestedLoopJoin" in s
    )
    assert bnlj_subs, simple
    # exactly one BNLJ streams the unfiltered corpus (the cell
    # assignment); the probe-list BNLJ ranks only the query slice —
    # an embeddings scan without a matching vec_id SLICE filter
    # (isnotnull doesn't bound anything) marks an unfiltered stream
    unfiltered_stream = 0
    for sub in bnlj_subs:
        scans = [
            l for l in sub if "embeddings" in l and "FileScan parquet" in l
        ]
        slice_filters = [
            l for l in sub
            if _is_filter_node(l) and "vec_id#" in l and "< " in l
        ]
        if len(scans) > len(slice_filters):
            unfiltered_stream += 1
    assert unfiltered_stream == 1, simple
    _assert_hinted_embedding_broadcasts_sliced(simple)


def test_semdedup_pair_join_is_cell_equijoin(spark):
    """SemDeDup's within-cell comparison must ride an equi-join on
    the cell key (SortMergeJoin — quadratic only in cell
    population), every window partitioned, and the assignment pass
    computed ONCE: home is localCheckpointed (it feeds both pair
    sides and the census), so the centroid BNLJ lives inside the
    checkpoint materialization and the visible plan reads the
    materialized RDD three times instead of recomputing the
    corpus-wide assignment three times."""
    from distributed_mapreduce_p2p_spark.plans.explain import (
        explain_str,
        unpartitioned_window_nodes,
    )

    simple = explain_str(_q("semdedup_prune", spark), "simple")
    assert "CartesianProduct" not in simple
    assert "BroadcastNestedLoopJoin" not in simple, simple
    assert "SortMergeJoin [cell#" in simple, simple
    assert "Scan ExistingRDD" in simple, simple
    assert not unpartitioned_window_nodes(simple), simple


def test_hll_distinct_estimate_plan(spark):
    """r9 HLL sketch plan pins: no hint anywhere (supplier must still
    land as a size-based BroadcastHashJoin at fixture scale — the
    de-hint policy's proof-by-plan), every aggregate partial+final,
    at most 3 shuffles (distinct, register groupBy, nation reduce),
    lineitem scan pruned to exactly its 2 needed columns."""
    from distributed_mapreduce_p2p_spark.plans.explain import (
        explain_str,
        read_schemas,
        shuffle_count,
    )

    df = _q("hll_distinct_estimate", spark)
    simple = explain_str(df, "simple")
    assert "BroadcastHashJoin" in simple
    assert "CartesianProduct" not in simple
    assert "BroadcastNestedLoopJoin" not in simple
    assert shuffle_count(df) <= 3, simple
    assert "partial_max" in simple and "partial_sum" in simple
    li_schemas = [
        s for s in read_schemas(df) if "l_orderkey" in s
    ]
    assert li_schemas and all(
        s.count(",") == 1 for s in li_schemas
    ), li_schemas


def _broadcast_call_args():
    """Every `broadcast(...)` argument in the package, extracted with
    balanced-paren matching so COMPOUND expressions (e.g. tpch_q2's
    `nat.join(broadcast(reg), ...).select(...)`) are captured whole
    instead of silently skipped — the r10 ADVICE gap: a name-only
    regex let any non-identifier argument bypass the guard entirely.
    Yields (relative_file, normalized_arg, is_bare_identifier).
    Nested broadcast(...) inside an argument is also yielded by the
    outer scan (finditer hits the inner call too)."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / (
        "distributed_mapreduce_p2p_spark"
    )
    for path in sorted(pkg.rglob("*.py")):
        text = path.read_text()
        rel = str(path.relative_to(pkg))
        for m in re.finditer(r"(?<![A-Za-z0-9_])broadcast\(", text):
            i, depth, start = m.end(), 1, m.end()
            while depth and i < len(text):
                if text[i] == "(":
                    depth += 1
                elif text[i] == ")":
                    depth -= 1
                i += 1
            arg = re.sub(r"\s+", " ", text[start : i - 1].strip())
            yield rel, arg, bool(
                re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", arg)
            )


def test_broadcast_hint_args_closed_set():
    """Source-level guard for the broadcast-hint policy (r9; hardened
    r10 per ADVICE): the set of `broadcast(...)` call arguments in
    the package is a CLOSED, reviewed set — every entry below is a
    fixed-size dim (nation/region), a 1-row/bounded aggregate, a
    top-k slice, a quantile/centroid/sketch grid, or the tiny
    block-pair index. This closes the gap neither runtime audit can
    see: a hint inside a localCheckpoint'ed subtree never reaches a
    visible plan (tools/audit_plans.py header), but it
    still forces an SF-scaled build side when the wrapped table
    grows — the r9 wave-2 sweep found two such hidden hints only by
    reading source. r10 hardening: (a) bare names are allowed PER
    FILE, so a generic name like `p` or `t` being bounded in one
    module no longer globally whitelists it — `broadcast(p)` around
    registry's part table fails even though similarity.py's `p`
    (a probe slice) is allowed; (b) non-identifier arguments are
    extracted with balanced parens and require an explicit
    (file, expression) entry instead of bypassing the guard. Adding
    a new hint means adding its (file, arg) here WITH a boundedness
    reason in the review diff; a fact-projection name like
    `cust`/`sup`/`part` failing this test is the point."""
    allowed_names = {
        "registry.py": {
            # fixed-size dims and their aliases (nation 25 / region 5)
            "n", "nn", "nn1", "nn2", "nat", "na", "reg", "r",
            "n1", "n2", "sn", "b",
            # 1-row / bounded aggregates and scalar attaches
            "tot", "totals", "mx", "mx2", "med", "medo", "medb",
            "mad", "obs", "num", "gl", "m", "exp", "fit", "prev",
            "origin", "rt", "ratio", "y", "w", "u1", "u2", "sa",
            "da", "db", "d1", "d2", "ca", "cb", "cm", "cn", "ct",
            "re", "pi", "pred", "ssum", "tv", "sz",
            # hits_hubs iteration: 1-row norm stats + <=25-row
            # localCheckpointed node state per half-round
            "stats", "state",
            # quantile sketch: |keys|-row (n, stride) map-side agg
            "kstats",
            # bounded grids / vocab / calendar / config cells
            "qs", "yr", "moys", "rm", "nb", "freq", "bounds",
            "bits", "vocab", "lists", "idx", "fences", "fb",
            "kreg", "keep", "sketch", "segc", "nseg", "ns", "npri",
            "npr", "pairs", "pos", "pric", "qterms", "ranked",
            "ra", "tiers", "ties", "top", "cohort", "cls", "t",
            "g", "users", "lang_rank",
            # centroid slice shared with similarity.py (isqrt-bounded,
            # unhinted at the fact-scale assignment in the ANN path)
            "cent",
            # PCA power-iteration vector state (dim-bounded,
            # checkpointed)
            "v",
            # conditional small-parent in fk_integrity (nation/region
            # only — the small_parent flag gates it)
            "p",
            # cloudpickle-safe rename in udfs-surface query
            "df_",
        },
        "operators/relational.py": {
            "nation", "region",  # fixed dims
            "offsets",  # global_cumsum per-partition offsets
            "prev_max",  # 1-row scalar
        },
        "operators/text.py": {"offsets"},
        "operators/similarity.py": {
            "cent",  # centroid slice (isqrt(n)-bounded stand-in)
            "probes",  # |Q| x nprobe probe list
            "q",  # filtered vec_id < n_queries query slice
            "p",  # probe slice
            "ncand",  # 1-row candidate count
            "cent_home",  # centroid->supercell map: n_cells rows of
            # 2 longs (~5 MB at n=1e11) — the semdedup ANN router
            "n_total",  # 1-row corpus count (recall denominator)
        },
        "operators/dedup.py": {
            "bsh",  # band-shift grid
            "freq",  # bounded token-frequency vocab
        },
        "operators/edjoin.py": {"freq", "lens"},
        "sources/io.py": {"stats"},
        "streaming/replication.py": {"result"},
    }
    allowed_compound = {
        # nation x region composite (25-row build side) — the one
        # hint tpch_q2 keeps after the r9 wave-2 restructure
        ("registry.py",
         'nat.join( broadcast(reg), nat.n_regionkey == reg.r_regionkey, )'
         '.select("n_nationkey", "n_name")'),
        # nation-projection attaches (25-row)
        ("registry.py",
         's.join(n1, s.s_nationkey == F.col("n1.n_nationkey")) '
         '.select("s_suppkey", F.col("n1.n_name").alias("supp_nation"))'),
        ("registry.py",
         'c.join(n2, c.c_nationkey == F.col("n2.n_nationkey")) '
         '.select("c_custkey", F.col("n2.n_name").alias("cust_nation"))'),
        ("registry.py", 'nation.select("n_nationkey", "n_name")'),
        ("registry.py",
         '_t(spark, sf_dir, "nation").where( F.col("n_name").isin( '
         '"NATION_3", "NATION_7", "NATION_11" ) )'),
        # 1-row / bounded-aggregate renames and attaches
        ("registry.py", 'sz.withColumnRenamed("source", "src_a")'),
        ("registry.py", 'sz.withColumnRenamed("source", "src_b")'),
        ("registry.py", 'bsize.withColumnRenamed("doc_id", "bench_doc")'),
        ("registry.py", '_median_of("cents")'),
        ("registry.py", '_median_of("n_orders")'),
        ("registry.py", 'grid.agg(F.count(F.lit(1)).alias("ncell"))'),
        ("registry.py",
         'fb.agg(F.count(F.lit(1)).cast("long").alias("b"))'),
        ("registry.py",
         'recip.agg(F.count(F.lit(1)).cast("long").alias("n_recip"))'),
        # bounded label/degree/tier sides (node-bounded graph state,
        # top-k market slices)
        ("registry.py",
         'deg.select(F.col("node").alias("s_n"), F.col("d").alias("dx"))'),
        ("registry.py",
         'deg.select(F.col("node").alias("d_n"), F.col("d").alias("dy"))'),
        ("registry.py",
         'root.select( F.col("feature").alias("r_feat"), '
         'F.col("threshold").alias("r_thr"), )'),
        ("registry.py", 'g.withColumnRenamed("c_mktsegment", "g_seg")'),
        ("registry.py", 'lab.withColumnRenamed("node", "nbr")'),
        ("registry.py", 'mkt.drop("n_brands")'),
        # (ids, mn): 1-row id-bounds attach in similarity baseline
        ("operators/similarity.py", '(ids, mn)'),
    }
    stray = []
    for rel, arg, bare in _broadcast_call_args():
        if bare:
            if arg not in allowed_names.get(rel, set()):
                stray.append((rel, arg))
        elif (rel, arg) not in allowed_compound:
            stray.append((rel, arg))
    assert not stray, (
        f"NEW broadcast() hint argument(s) {stray} — verify "
        "boundedness (fixed dim / 1-row agg / top-k slice), then add "
        "the (file, arg) here with its reason; SF-scaled tables must "
        "NOT be hinted (tools/audit_plans.py header)"
    )


def test_quantile_sketch_ranks_plan(spark):
    """r10 quantile sketch plan pins: the per-key (n, stride) stats
    come from a MAP-SIDE-COMBINED groupBy (partial_count before its
    exchange — never a count-over-window shuffling every fact row,
    the first-draft shape), at most 3 shuffles total (sort window,
    stats agg, AQE slack), no cartesian product, and the orders scan
    pruned to exactly the 3 needed columns."""
    from distributed_mapreduce_p2p_spark.plans.explain import (
        explain_str,
        read_schemas,
        shuffle_count,
    )

    df = _q("quantile_sketch_ranks", spark)
    simple = explain_str(df, "simple")
    assert "partial_count" in simple
    assert "CartesianProduct" not in simple
    assert shuffle_count(df) <= 3, simple
    schemas = read_schemas(df)
    assert schemas and all(s.count(",") <= 2 for s in schemas), schemas


def test_semdedup_ann_assignment_plan(spark):
    """r10 semdedup ANN assignment pins (the subtree the visible
    census plan hides behind localCheckpoint): every
    BroadcastNestedLoopJoin in the assignment builds against a
    vec_id-bounded SLICE scan (the n^(1/4)-row super table or the
    isqrt(n)-row centroid table — LessThan pushed to parquet), never
    an unfiltered embeddings scan; WindowGroupLimit prunes the probe
    ranking to nprobe rows per vector BEFORE its shuffle; and the
    centroid re-rank lands as an UNHINTED equi-join."""
    import re

    from pyspark.sql import functions as F
    from pyspark.sql.functions import broadcast

    from distributed_mapreduce_p2p_spark.operators import (
        similarity as S,
    )
    from distributed_mapreduce_p2p_spark.plans.explain import (
        explain_str,
        node_subtrees,
    )
    from distributed_mapreduce_p2p_spark.sources.io import read_table

    emb = read_table(spark, SF_SMALL, "embeddings")
    base = S.with_norm2(emb)
    n_cells = S.semdedup_cells(emb.count())
    n_super = S.semdedup_super_cells(n_cells)
    sup = S._centroids(base, n_super)
    cent = S._centroids(base, n_cells)
    cent_home = (
        S._rank_cells(base.where(F.col("vec_id") < n_cells), sup)
        .where(F.col("rnk") == 1)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.col("cent_id").alias("sup"),
        )
    )
    probes = (
        S._rank_cells(base, sup)
        .where(F.col("rnk") <= S.SEMDEDUP_ANN_NPROBE)
        .select("vec_id", F.col("cent_id").alias("sup"))
    )
    cand = broadcast(cent_home).join(probes, "sup").select(
        "vec_id", "cent_id"
    )
    q = base.select(
        "vec_id",
        F.col("embedding").alias("q_emb"),
        F.col("norm2").alias("q_n2"),
    )
    scored = cand.join(q, "vec_id").join(
        cent.select("cent_id", "c_emb", "c_n2"), "cent_id"
    ).select("vec_id", "cent_id", S._sim_col())
    simple = explain_str(scored, "simple")
    assert "CartesianProduct" not in simple
    assert "WindowGroupLimit" in simple
    assert "BroadcastNestedLoopJoin" in simple, (
        "assignment must rank via the broadcast super table"
    )
    # the BNLJ's STREAM side is legitimately the full corpus; only
    # the BUILD sides (IdentityBroadcastMode exchanges) must be
    # vec_id-bounded slices
    builds = node_subtrees(
        simple, lambda l: "IdentityBroadcastMode" in l
    )
    assert builds, simple
    for sub in builds:
        scans = [l for l in sub if "Scan parquet" in l or "FileScan" in l]
        assert scans and all(
            re.search(r"LessThan\(vec_id,\d+\)", l) for l in scans
        ), (
            "a BNLJ builds against an UNBOUNDED embeddings scan:\n"
            + "\n".join(sub[:5])
        )
