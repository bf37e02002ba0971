"""Physical-plan regression tests: the scale-critical plan properties
(broadcast vs shuffle, pushdown reaching the scan, top-k without a full
sort, shuffle-free projections) asserted on the actual executed/optimized
plans at sf0.001 — the properties PLANS.md documents, enforced."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod


@pytest.fixture(scope="module")
def qs():
    return entrymod.queries()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q3_broadcasts_the_filtered_dimension(spark, sf_dir, qs):
    plan = _plan(qs["q3_shipping_priority"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the ordered limit must be TakeOrdered (per-partition top-k),
    # never a global Sort + CollectLimit
    assert "TakeOrderedAndProject" in plan


def test_q1_pushes_filter_into_scan(spark, sf_dir, qs):
    plan = _plan(qs["q1_pricing_summary"](spark, sf_dir))
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200]


def test_split_train_holdout_is_pure_projection(spark, sf_dir, qs):
    plan = _plan(qs["split_train_holdout"](spark, sf_dir))
    assert "Exchange" not in plan  # no shuffle at any scale


def test_langid_char_ngram_shuffles_only_to_rebalance(spark, sf_dir, qs):
    # the scoring itself is a pure projection; the ONLY exchange allowed
    # is the round-robin rebalance that spreads an under-split source
    # over the cores (a no-op past the 1 GiB source gate at scale) —
    # never a hash/range repartition, which would mean the operator
    # grew a keyed shuffle
    plan = _plan(qs["langid_char_ngram"](spark, sf_dir))
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert plan.count("Exchange") <= 1  # the RoundRobin rebalance


def test_ann_cosine_topk_avoids_full_sort(spark, sf_dir, qs):
    plan = _plan(qs["ann_cosine_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_j2_broadcasts_dimension_chain(spark, sf_dir, qs):
    plan = _plan(qs["j2_revenue_by_region"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") <= 1  # one fact shuffle max


def test_qa_values_reads_only_profiled_columns(spark, sf_dir, qs):
    df = qs["qa_values_full"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # column pruning: the untouched wide column must not be read
    assert "l_comment" not in plan  # not in the table at all (sanity)
    exec_plan = _plan(df)
    assert "ReadSchema" in exec_plan


def test_kanon_is_single_exchange(spark, sf_dir, qs):
    # the quasi-identifier window is the only shuffle; hashing/banding
    # are scan-stage projections
    plan = _plan(qs["anonymize_kanon_customers"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1


def test_variant_parses_once_and_prunes_scan(spark, sf_dir, qs):
    df = qs["variant_props_stats"](spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    # the parse must appear exactly once (parse-once, extract-typed),
    # not once per extracted field; Catalyst renders it as a
    # static_invoke of VariantExpressionEvalUtils.parseJson
    assert opt.count("parseJson") == 1
    plan = _plan(df)
    assert "ReadSchema" in plan


def test_lateral_is_decorrelated_not_looped(spark, sf_dir, qs):
    # Catalyst must rewrite the per-nation LATERAL subquery into a
    # join + windowed top-1 — no nested-loop-per-row execution
    plan = _plan(qs["lateral_top_customer_per_nation"](spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_ann_shuffle_strategy_never_broadcasts_the_corpus(spark, sf_dir):
    """Forced-large-path check: with strategy='shuffle' (what 'auto'
    resolves to above the size gate) the candidate join must be a salted
    shuffle — no broadcast of the corpus side anywhere in the plan, even
    with Catalyst's own auto-broadcast disabled-proof threshold."""
    from apde_etl_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(SIM.ann_lsh_topk(emb, strategy="shuffle"))
        assert "BroadcastHashJoin" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "__salt" in plan  # the replicated salted join is in effect
        # broadcast strategy still broadcasts even when Catalyst wouldn't
        plan_bc = _plan(SIM.ann_lsh_topk(emb, strategy="broadcast"))
        assert "BroadcastHashJoin" in plan_bc
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_quality_and_pii_are_pure_projections(spark, sf_dir, qs):
    for name in ("quality_logistic_score", "pii_redact_contacts"):
        plan = _plan(qs[name](spark, sf_dir))
        assert "Exchange" not in plan, name  # scan-speed at any scale


def test_decontam_joins_on_gram_hash_not_text(spark, sf_dir, qs):
    df = qs["decontam_ngram_overlap"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # the gram join must key on the fixed-width hash column, never the
    # gram string (shuffle width at 100 TB), and be a semi join
    assert "Join LeftSemi" in plan
    cond = plan.split("Join LeftSemi")[1].splitlines()[0]
    assert "gh#" in cond and "gram" not in cond


def test_ingest_band_join_is_asymmetric(spark, sf_dir, qs):
    from apde_etl_spark.plans.catalog_r3b import incremental_ingest_dedup

    plan = _plan(incremental_ingest_dedup(spark, sf_dir))
    # the corpus side must never self-pair: exactly one band equi-join
    assert plan.count("__band") > 0
    # and the exact-dup disposal happens on the digest before banding
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_q17_decorrelates_scalar_subquery(spark, sf_dir, qs):
    plan = _plan(qs["q17_small_quantity_revenue"](spark, sf_dir))
    # decorrelated: the per-part average is ONE aggregate joined back,
    # not a per-outer-row re-execution (bounded scans, a real join)
    assert plan.count("Scan parquet") <= 3
    assert "HashAggregate" in plan
    assert "Join" in plan


def test_expectations_row_checks_share_one_scan(spark, sf_dir, qs):
    plan = _plan(qs["expectations_orders"](spark, sf_dir))
    # five row predicates + uniqueness fold into ONE orders aggregate;
    # the only other scans are the FK anti-join's two key columns
    assert plan.count("Scan parquet") <= 3


def test_snapshot_diff_is_one_join_plus_tiny_agg(spark, sf_dir, qs):
    plan = _plan(qs["snapshot_diff_orders"](spark, sf_dir))
    assert "FullOuter" in plan.replace(" ", "")
    # the rollup happens on status only — no wide shuffle after the join
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_band_self_join_skew_split_engages(spark):
    """AQE's skew-split DOES fire on the LSH band self-join when the hot
    bucket dominates map-output BYTES (thresholds scaled to test size).
    The complementary caveat — a bucket of near-identical rows can stay
    below the byte threshold because identical band keys compress away,
    which is why minhash_lsh_pairs grows collapse_identical_signatures —
    is documented at operators/similarity.py and stress-measured in
    tools/scale_stress.py."""
    from pyspark.sql import functions as F

    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
    ]
    prev = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16k"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8k")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")

        uniform = spark.range(10_000).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("b"), F.col("id").cast("string")).alias("__band"),
        )
        hot = spark.range(5_000).select(
            (F.col("id") + 10_000).alias("doc_id"),
            F.lit("HOTBAND").alias("__band"),
        )
        banded = uniform.unionByName(hot)
        a, b = banded.alias("a"), banded.alias("b")
        cand = a.join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(F.col("a.doc_id").alias("id_a"))
        cnt = cand.groupBy().count()
        assert cnt.collect()[0][0] == 12_497_500
        plan = _plan(cnt)
        assert "skew=true" in plan
    finally:
        for k, v in prev.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_partition_pruning_engages_on_partitioned_layout(spark, sf_dir, qs):
    """The year-partitioned layout must prune at the DIRECTORY level:
    the literal year predicate surfaces as a PartitionFilter on the
    scan, not as a post-scan data filter over every row."""
    df = qs["qa_profile_partition_pruned"](spark, sf_dir)
    plan = _plan(df)
    seg = plan.split("PartitionFilters: [", 1)
    assert len(seg) == 2, f"no PartitionFilters in plan:\n{plan[:2000]}"
    assert "o_year" in seg[1][:200]
    # correct by construction too: partition count read == 1 year
    assert "1995" in seg[1][:200]


def test_dynamic_partition_pruning_engages_through_join(spark, sf_dir, qs):
    """The dimension-join entry must trigger DPP: a runtime
    dynamicpruning subquery lands in the fact scan's partition filters,
    so only the joined years' directories are read."""
    df = qs["orders_partitioned_dpp"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_bucketed_join_entry_is_exchange_free_on_the_join(spark, sf_dir, qs):
    """The bucketed-layout join must satisfy BOTH requirements from the
    layout: with auto-broadcast disabled the sort-merge join runs with
    NO exchange on either input (bucketing satisfies the distribution),
    and — because write_bucketed_table leaves exactly one sorted file
    per bucket — enabling the sorted-bucket-scan conf removes the
    per-task Sorts too: the join is a pure local merge."""
    from apde_etl_spark.plans.catalog_r4 import bucketed_tables

    t_orders, t_cust = bucketed_tables(spark, sf_dir)
    saved = {k: spark.conf.get(k) for k in [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.legacy.bucketedTableScan.outputOrdering",
    ]}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        o, c = spark.table(t_orders), spark.table(t_cust)
        j = o.join(c, o["o_custkey"] == c["c_custkey"])
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        j2 = o.join(c, o["o_custkey"] == c["c_custkey"])
        plan2 = _plan(j2)
        assert "SortMergeJoin" in plan2
        assert "Exchange hashpartitioning" not in plan2
        assert plan2.count("Sort [") == 0, plan2[:1500]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partition(spark):
    """Executed AQE skew-join proof: a 90%-on-one-key fact joined to a
    dim with broadcast disabled must come back with the skewed partition
    SPLIT at runtime — SortMergeJoin(skew=true) and an 'AQEShuffleRead
    ... skewed' read in the executed plan. This is the runtime half of
    the skew story (operators/skew.py is the planned half): at 100 TB a
    hot key that slips past static planning is re-split from shuffle
    statistics instead of serializing one reducer."""
    from pyspark.sql import functions as F

    saved = {k: spark.conf.get(k) for k in [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    ]}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        # thresholds sized to the synthetic volume; production keeps the
        # 256MB defaults — the MECHANISM under proof is identical
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2MB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1MB")
        fact = spark.range(4_000_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(0))
            .otherwise(F.col("id") % 100).alias("k"),
            F.concat(F.lit("payload-"), F.col("id")).alias("pay"))
        dim = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
        j = (fact.join(dim, "k")
             .select(F.length("pay").alias("l")).groupBy().agg(F.sum("l")))
        [row] = j.collect()          # execute so AQE re-plans from stats
        assert row[0] == 58888890    # values survive the split
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
        assert "skewed" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_cbo_reorders_join_only_with_stats(spark, sf_dir):
    """Executed CBO proof: the entry's written join order is
    part->lineitem->supplier, but with ANALYZE'd column stats and CBO
    the optimizer pulls the selective supplier in FIRST. Without CBO the
    written order survives — demonstrating the reorder is genuinely
    stats-driven, not accidental."""
    import re

    from pyspark.sql import functions as F

    from apde_etl_spark.plans.catalog_r4 import cbo_tables

    t_li, t_p, t_s = cbo_tables(spark, sf_dir)

    def build():
        p = spark.table(t_p)
        li = spark.table(t_li)
        su = spark.table(t_s).filter(F.col("s_acctbal") > 9900)
        return (
            p.join(li, li["l_partkey"] == p["p_partkey"])
            .join(su, li["l_suppkey"] == su["s_suppkey"])
            .groupBy("p_brand").agg(F.count(F.lit(1)).alias("n"))
        )

    def scan_order(plan: str) -> list:
        return re.findall(r"cbo_(lineitem|part|supplier)_", plan)

    saved = {k: spark.conf.get(k) for k in
             ["spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled"]}
    try:
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        with_cbo = scan_order(
            build()._jdf.queryExecution().optimizedPlan().toString())
        spark.conf.set("spark.sql.cbo.enabled", "false")
        without = scan_order(
            build()._jdf.queryExecution().optimizedPlan().toString())
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    # CBO must change the order, and specifically must NOT leave part
    # (the unfiltered wide dim) joined before the selective supplier
    assert with_cbo != without, (with_cbo, without)
    assert without.index("part") < without.index("supplier")
    assert with_cbo.index("supplier") < with_cbo.index("part")


def test_linkage_features_single_shuffle(spark, sf_dir, qs):
    """Blocking DAG aside, the attribute joins must broadcast at test SF
    (the candidate list and documents are both small) — the only
    Exchange keys the band self-join."""
    plan = _plan(qs["linkage_candidate_features"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_linkage_scoring_adds_no_shuffle(spark, sf_dir, qs):
    """FS scoring/classification is a pure projection: same exchange
    count as the feature plan it wraps."""
    feats = _plan(qs["linkage_candidate_features"](spark, sf_dir))
    scores = _plan(qs["linkage_match_scores"](spark, sf_dir))
    assert scores.count("Exchange") == feats.count("Exchange")


def test_q10_top20_is_take_ordered(spark, sf_dir, qs):
    plan = _plan(qs["q10_returned_items"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_q5_pushes_date_filter_and_broadcasts_dims(spark, sf_dir, qs):
    plan = _plan(qs["q5_local_supplier_volume"](spark, sf_dir))
    # the quarter predicate reaches the orders scan (any PushedFilters
    # segment) and the region constant reaches the region scan
    pushed = "".join(seg[:300] for seg in plan.split("PushedFilters")[1:])
    assert "GreaterThanOrEqual(o_orderdate" in pushed
    assert "EqualTo(r_name,ASIA)" in pushed
    assert "BroadcastHashJoin" in plan


def test_pagerank_iteration_shuffles_on_node_only(spark, sf_dir, qs,
                                                  monkeypatch):
    """With the node-sized frames under the broadcast gate, the
    remaining per-iteration exchange is the groupBy(dst) — no
    SortMergeJoin towers at test SF. (Distributed loop forced: under
    the round-10 size gate this entry serves from the driver fast
    path, whose plan is a local scan.)"""
    from apde_etl_spark.operators import graph as G

    monkeypatch.setattr(G, "_pagerank_local_try", lambda *a, **kw: None)
    plan = _plan(qs["graph_pagerank_copurchase"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_attribution_three_scans_with_pushed_type_filters(spark, sf_dir, qs):
    plan = _plan(qs["attribution_multitouch"](spark, sf_dir))
    # purchase/touch filters reach the scans
    assert "event_type" in plan.split("PushedFilters")[1][:400]
    # direct bucket = anti join, not a correlated loop
    assert "CartesianProduct" not in plan


def test_incremental_linkage_band_join_is_asymmetric(spark, sf_dir, qs):
    """The batch/corpus split predicates must reach both scans — the
    corpus side never self-pairs."""
    plan = _plan(qs["linkage_incremental"](spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_q4_exists_runs_as_semi_join(spark, sf_dir, qs):
    plan = _plan(qs["q4_exists_late_orders"](spark, sf_dir))
    assert "LeftSemi" in plan
    # decorrelated: two bounded scans, no per-row subquery re-execution
    assert plan.count("Scan parquet") <= 2
    # the quarter filter reaches the orders scan
    assert "PushedFilters" in plan


def test_q21_runs_as_semi_plus_anti_joins(spark, sf_dir, qs):
    plan = _plan(qs["q21_anti_sole_late_supplier"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    # supplier-name dim rides a broadcast
    assert "BroadcastHashJoin" in plan


def test_q22_catalyst_decorrelates_subqueries(spark, sf_dir, qs):
    # this entry hands Catalyst LITERAL SQL with two scalar subqueries
    # + a correlated NOT EXISTS; the physical plan must show the
    # rewrites: an anti join for the NOT EXISTS and one-shot subquery
    # stages (Subquery/ReusedSubquery), never a per-row loop.
    plan = _plan(qs["q22_scalar_subquery_idle_rich"](spark, sf_dir))
    assert "LeftAnti" in plan
    assert "Subquery" in plan
    # Catalyst merges the two scalar aggregates into ONE one-shot stage
    # (mergedValue) — printed under both Subquery nodes, so the textual
    # scan count is bounded but not minimal: main customer + orders +
    # the merged subquery stage repeated per reference.
    assert "mergedValue" in plan or "ReusedSubquery" in plan
    assert plan.count("Scan parquet") <= 6


def test_pagerank_checkpoint_bounds_plan_depth(spark):
    """Iterative lineage must not grow unboundedly: with
    checkpoint_every the physical plan of the FINAL iteration hangs off
    a checkpoint scan, so its size is O(k), independent of total
    iteration count — the property that keeps 25+-iteration runs
    plannable. (Distributed loop forced past the round-10 fast path —
    the property under test is the loop's lineage, not the gate.)"""
    from apde_etl_spark.operators.graph import pagerank_integer

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3)], "src long, dst long")
    deep = pagerank_integer(edges, iters=9, local_max_edges=0)
    shallow = pagerank_integer(edges, iters=9, checkpoint_every=3,
                               local_max_edges=0)
    p_deep, p_shallow = _plan(deep), _plan(shallow)
    # un-truncated: plan grows with iters; truncated: bounded well below
    assert len(p_shallow) < len(p_deep) / 2
    # and the checkpointed plan no longer re-reads the edge source:
    # it starts from the materialized ranks
    assert "ExistingRDD" in p_shallow or "Scan" in p_shallow


def test_recursive_hierarchy_uses_union_loop(spark, sf_dir, qs):
    # the native recursive CTE must plan as Spark 4's UnionLoop —
    # proof the entry exercises the recursive-query executor, not a
    # hand-unrolled union
    plan = _plan(qs["recursive_hierarchy_rollup"](spark, sf_dir))
    assert "UnionLoop" in plan


def test_perplexity_has_no_python_stage(spark, sf_dir, qs):
    # bigram extraction is transform(sequence(...)) + explode — all
    # JVM; a Python/Arrow eval stage here would be the slow path
    plan = _plan(qs["perplexity_bigram_score"](spark, sf_dir))
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_gdpr_cascade_broadcasts_tombstones(spark, sf_dir, qs):
    # the request set rides broadcast semi-joins; the fact scans must
    # not shuffle on the join key
    plan = _plan(qs["gdpr_cascade_delete"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_editdistance_verify_is_vocab_sized(spark, sf_dir, qs):
    # the Levenshtein verify must run over DISTINCT name pairs
    # (HashAggregate before the join) and fan back out through a
    # broadcast join — never a rows x rows blocked self-join
    plan = _plan(qs["editdistance_neardup_parts"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "levenshtein" in plan


def test_corr_matrix_is_single_pass(spark, sf_dir, qs):
    # ONE aggregation pass computes every moment; the 10 coefficients
    # explode out of the single moment row — exactly one scan and one
    # aggregate pair in the executed plan
    plan = _plan(qs["corr_matrix_lineitem"](spark, sf_dir))
    assert plan.count("FileScan") == 1
    assert plan.count("HashAggregate") == 2  # partial + final


def test_q19_pushes_common_disjuncts_to_part_scan(spark, sf_dir, qs):
    # the brand/size conjuncts common to the OR arms must reach the
    # part scan as pushed filters; the fact side joins broadcast
    plan = _plan(qs["q19_disjunctive_revenue"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    pushed = plan.split("PushedFilters")
    assert any("p_brand" in p[:400] or "p_size" in p[:400]
               for p in pushed[1:])


def test_q13_counts_join_column_with_one_fact_shuffle(spark, sf_dir, qs):
    # left join + count(column): the zero bucket must exist, and the
    # per-customer aggregate co-partitions with the join (<= 2 keyed
    # exchanges total: join key + final histogram key)
    plan = _plan(qs["q13_custdist"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 3


def test_q8_is_single_pass_conditional_aggregate(spark, sf_dir, qs):
    # home vs total volume come from ONE fact pass (CASE inside SUM),
    # never two scans joined back: exactly one lineitem scan
    plan = _plan(qs["q8_market_share"](spark, sf_dir))
    import re
    assert len(re.findall(r"FileScan parquet[^\n]*lineitem", plan)) == 1


def test_q2_min_cost_decorrelated_to_aggregate_join(spark, sf_dir, qs):
    """The correlated min-cost subquery must run as ONE groupBy-min +
    equi-join (the decorrelated shape), with every dimension riding a
    broadcast — never a per-part re-scan of the supply relation."""
    plan = _plan(qs["q2_min_cost_supplier"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the eligible view is persisted: both the min aggregate and the
    # final join read the cache, so lineitem executes ONCE (the plan
    # text prints the cached recipe under InMemoryRelation, so a
    # textual parquet-scan count would double-count; the cache node is
    # the real assertion)
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan


def test_q6_is_pure_scan_aggregate(spark, sf_dir, qs):
    """Q6 exists to prove pushdown: one scan with the predicates pushed
    and a two-phase aggregate — no join, no wide shuffle."""
    plan = _plan(qs["q6_forecast_revenue"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    pushed = plan.split("PushedFilters")[1][:300]
    assert "l_shipdate" in pushed and "l_discount" in pushed
    # only the single-row partial->final aggregate exchange remains
    assert plan.count("Exchange") == 1


def test_q15_reuses_the_revenue_view(spark, sf_dir, qs):
    """The revenue view feeds both its own MAX and the final join; the
    max must ride a broadcast back (no re-aggregation of lineitem) and
    the persisted view appears as an InMemory scan, not a second
    parquet scan of lineitem."""
    df = qs["q15_top_supplier"](spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # lineitem is scanned at most once as parquet; the second reference
    # reads the cached view (InMemoryTableScan)
    assert "InMemoryTableScan" in plan
    df.unpersist() if hasattr(df, "unpersist") else None


def test_q16_not_in_runs_as_broadcast_anti_join(spark, sf_dir, qs):
    plan = _plan(qs["q16_supplier_cnt"](spark, sf_dir))
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan
    # distinct-aggregate expansion, not a row-by-row subquery
    assert "HashAggregate" in plan


def test_ann_graph_serve_plan_reads_frozen_artifacts(spark, sf_dir, qs,
                                                   monkeypatch):
    """The beam-search serve plan must contain ZERO construction work
    and no cartesian all-pairs. Under the round-10 size gate the serve
    is the broadcast-index walk — ONE Arrow stage over the query batch,
    no joins at all; past the gate (forced here by making the local
    serve decline) candidates come from equi-joins against the
    persisted adjacency with no Python stage (the k-NN build's
    exact_topk_pairs is an Arrow stage — it must not appear at query
    time)."""
    from apde_etl_spark.operators import ann_index as AI

    plan = _plan(qs["ann_graph_topk"](spark, sf_dir))
    assert "MapInArrow" in plan and "Join" not in plan
    assert "CartesianProduct" not in plan
    monkeypatch.setattr(AI, "_try_local_serve", lambda *a, **kw: None)
    plan = _plan(qs["ann_graph_topk"](spark, sf_dir))
    assert "EvalPython" not in plan and "MapInArrow" not in plan
    assert "CartesianProduct" not in plan


def test_kmv_sketch_uses_window_group_limit(spark, sf_dir, qs):
    """The k-min rank filter must compile to Spark's per-partition
    top-k (Partial + Final WindowGroupLimit), not a full per-group
    sort-and-filter — the docstring's 100 TB claim, plan-asserted."""
    from apde_etl_spark.operators.sketch import kmv_sketch

    df = spark.createDataFrame([(f"u{i}", i % 5) for i in range(100)],
                               "k string, g int")
    plan = _plan(kmv_sketch(df, "k", ["g"]))
    assert plan.count("WindowGroupLimit") >= 2  # Partial and Final


def test_vocab_shift_consumers_read_the_cached_counts(spark, sf_dir, qs):
    """tot, scored, and both top-k arms all read the persisted
    vocabulary counts: every consumer branch must be an
    InMemoryTableScan (the FileScans remaining in the plan string are
    the cached relation's embedded BUILD plan, which runs once)."""
    plan = _plan(qs["vocab_shift_terms"](spark, sf_dir))
    assert plan.count("InMemoryTableScan") >= 3


def test_standardized_rate_broadcasts_standard_population(spark, sf_dir, qs):
    plan = _plan(qs["standardized_order_rate"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ann_hnsw_serve_plan_reads_frozen_artifacts(spark, sf_dir, qs):
    """The layered (HNSW-class) serve plan must contain ZERO
    construction work, like the flat walk: no Python/Arrow stage (the
    per-layer exact k-NN builds are Arrow stages — build-time only) and
    no cartesian all-pairs; descent candidates come from equi-joins
    against the persisted graph_upper adjacency. The headline entry
    serves from the broadcast index (one Arrow stage, no joins); its
    ``_distributed`` twin takes the iterative walk."""
    plan = _plan(qs["ann_hnsw_topk"](spark, sf_dir))
    assert "MapInArrow" in plan and "Join" not in plan
    assert "CartesianProduct" not in plan
    plan = _plan(qs["ann_hnsw_topk_distributed"](spark, sf_dir))
    assert "EvalPython" not in plan and "MapInArrow" not in plan
    assert "CartesianProduct" not in plan


def test_pagerank_sinks_twin_takes_the_distributed_loop(spark, sf_dir, qs,
                                                        monkeypatch):
    """The headline directed-sinks PageRank runs on the driver; its
    ``_distributed`` twin runs the superstep loop. Both plans end in a
    checkpoint scan, so the path is read off the driver path's result."""
    from apde_etl_spark.operators import graph as G

    taken = []
    real = G._pagerank_local_try

    def spy(*a, **kw):
        out = real(*a, **kw)
        taken.append(out is not None)
        return out

    monkeypatch.setattr(G, "_pagerank_local_try", spy)
    qs["graph_pagerank_directed_sinks"](spark, sf_dir)
    assert taken == [True]
    taken.clear()
    plan = _plan(qs["graph_pagerank_directed_sinks_distributed"](spark, sf_dir))
    assert taken == [False]
    assert "CartesianProduct" not in plan


def test_kmv_difference_serves_from_broadcast_sketch_state(spark, sf_dir, qs):
    """The week-over-prior difference must serve from SKETCH STATE, not
    a rescan of raw history: the week spine and per-week membership
    join broadcast (state is days*k integer rows), and the only
    events-table work is the exact-truth column riding beside the
    estimate. No cartesian products anywhere."""
    plan = _plan(qs["kmv_cohort_difference"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_quality_lr_serve_is_literal_weight_projection(spark, sf_dir, qs):
    """Scoring with the TRAINED weights must stay a scan-shaped
    projection: no shuffle Exchange, no Python stage — the weights are
    plan literals, so the 100 TB serve plan is identical to the
    fixed-weight production entry's."""
    plan = _plan(qs["quality_lr_trained"](spark, sf_dir))
    assert "MapInArrow" not in plan and "EvalPython" not in plan
    # the only allowed exchange is the output ordering's range exchange
    body = plan.split("Sort")[-1] if "Sort" in plan else plan
    assert "Exchange hashpartitioning" not in body


def test_video_decode_joins_plan_as_broadcast(spark, sf_dir, qs):
    """The planned-frame decode joins the (ids + small ints) frame plan
    back to the binaries as a BROADCAST join — never a shuffle of the
    media bytes — and only the decode seam itself is an Arrow stage."""
    plan = _plan(qs["mm_video_decode_real"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "MapInArrow" in plan  # the real decode seam, build side
