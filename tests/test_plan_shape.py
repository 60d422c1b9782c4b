"""Physical-plan shape assertions (SURVEY §4 scale posture).

Correctness says the answer is right; these tests pin that the PLAN is
right — the properties that decide whether a query survives a 100×
scale-up:

- predicate pushdown reaches the Parquet scan (``PushedFilters``)
- column pruning reaches the scan (``ReadSchema`` excludes unused cols)
- dimension joins broadcast (no shuffle of the fact table for dims)
- whole-stage codegen covers the hot path (no Python in the pipeline)
"""

from __future__ import annotations

import pytest

from iceberg_datafusion_arrow_flight_spark.plans import REGISTRY


def _explain(df, mode="formatted") -> str:
    jvm = df.sparkSession._jvm
    em = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(em)


def test_q6_filters_and_pruning_pushed(spark, sf_dir):
    """tpch_q6 filters on shipdate/discount/quantity and reads 4 columns
    — every filter and the pruned schema must reach the scan."""
    df = REGISTRY["tpch_q6_forecast_revenue"].build(spark, sf_dir)
    plan = _explain(df)
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed \
        and "l_quantity" in pushed
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "l_extendedprice" in read_schema
    assert "l_orderkey" not in read_schema  # unused column stays unread


def test_q5_dimension_joins_broadcast(spark, sf_dir):
    """region/nation/supplier/customer are dimension tables at every
    scale factor — the fact-side join must be broadcast, not a shuffle
    of lineitem."""
    df = REGISTRY["tpch_q5_local_supplier_volume"].build(spark, sf_dir)
    plan = _explain(df)
    assert "BroadcastHashJoin" in plan
    # lineitem (the fact table) must not be exchanged for the dim joins:
    # at most one shuffle (the final groupBy aggregation)
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 2, f"too many shuffles for a star join:\n{plan}"


def test_q1_partial_aggregation(spark, sf_dir):
    """Partial (map-side) aggregation before the shuffle — the property
    that makes groupBy O(groups), not O(rows), on the wire."""
    df = REGISTRY["tpch_q1_pricing_summary"].build(spark, sf_dir)
    plan = _explain(df)
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_topk_cosine_broadcasts_queries(spark, sf_dir):
    """The small query set is broadcast against the corpus — the corpus
    is never shuffled for the similarity join."""
    df = REGISTRY["sim_topk_cosine"].build(spark, sf_dir)
    plan = _explain(df)
    assert "Broadcast" in plan


def test_hot_paths_are_jvm_only(spark, sf_dir):
    """No Python evaluation node in any oracle-checked relational plan —
    UDFs are the slow path and these plans must not contain any."""
    for name in ("tpch_q3_shipping_priority", "window_sales_running",
                 "dedup_minhash_lsh", "text_quality_score",
                 "func_string_basic", "agg_grouping_sets"):
        df = REGISTRY[name].build(spark, sf_dir)
        plan = _explain(df)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, \
            f"{name} contains Python evaluation:\n{plan}"


def test_whole_stage_codegen_active(spark, sf_dir):
    """AQE finalizes the plan at execution; the executed plan must show
    whole-stage-codegen stages covering the scan→aggregate pipeline."""
    df = REGISTRY["tpch_q1_pricing_summary"].build(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "*(" in plan  # codegen stage markers, e.g. *(1) HashAggregate
    assert "AQEShuffleRead coalesced" in plan  # AQE re-planning active


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Co-located (bucketed) fact-fact join: zero shuffles on either
    side — the 100 TB pattern for repeated joins on one key."""
    from iceberg_datafusion_arrow_flight_spark.sources.bucketing import (
        bucketed_join, write_bucketed)
    from iceberg_datafusion_arrow_flight_spark.sources.registry import load_table

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem") \
        .withColumnRenamed("l_orderkey", "o_orderkey")
    write_bucketed(orders, "b_orders", "o_orderkey", buckets=4)
    write_bucketed(li.select("o_orderkey", "l_quantity"),
                   "b_lineitem", "o_orderkey", buckets=4)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "b_orders", "b_lineitem", "o_orderkey")
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, f"bucketed join shuffled:\n{plan}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_join_strategy_hints_honored(spark, sf_dir):
    """SURVEY §2.3: DF40 offers sort-merge as an opt-in physical
    alternative (prefer_hash_join=false); Spark exposes the same control
    per-join via hints — all three strategies must be reachable."""
    from iceberg_datafusion_arrow_flight_spark.sources.registry import load_table
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer") \
        .withColumnRenamed("c_custkey", "o_custkey")
    for hint, marker in [("merge", "SortMergeJoin"),
                         ("shuffle_hash", "ShuffledHashJoin"),
                         ("broadcast", "BroadcastHashJoin")]:
        j = orders.join(cust.hint(hint), "o_custkey")
        plan = _explain(j, "simple")
        assert marker in plan, f"hint {hint} not honored:\n{plan}"


def test_subquery_decorrelation_plan_shapes(spark, sf_dir):
    """Q4/Q17/Q22: Catalyst must decorrelate each subquery family into
    the right join — no per-row subquery execution survives at scale."""
    q4 = _explain(REGISTRY["tpch_q4_order_priority"].build(spark, sf_dir))
    assert "SemiJoin" in q4 or "LeftSemi" in q4, q4
    q17 = _explain(
        REGISTRY["tpch_q17_small_quantity_revenue"].build(spark, sf_dir))
    # correlated scalar avg becomes an aggregate joined back on partkey
    assert "HashAggregate" in q17 and q17.count("Join") >= 2, q17
    q22 = _explain(
        REGISTRY["tpch_q22_global_sales_opportunity"].build(spark, sf_dir))
    assert "AntiJoin" in q22 or "LeftAnti" in q22, q22


def test_q13_outer_join_predicate_stays_in_join(spark, sf_dir):
    """Q13's orders-side predicate must filter the join input, not turn
    the outer join inner — every customer row must survive."""
    df = REGISTRY["tpch_q13_customer_distribution"].build(spark, sf_dir)
    plan = _explain(df)
    assert "LeftOuter" in plan or "left_outer" in plan, plan


def test_pipeline_quality_char_band_pushes_to_scan(spark, sf_dir):
    """The quality filter's length band uses the materialized n_chars
    column precisely so it reaches the scan as a pushed filter (a
    length(text) predicate never pushes) — at 100 TB this band prunes
    IO via row-group stats, not just rows."""
    df = REGISTRY["pipeline_quality_filter"].build(spark, sf_dir)
    plan = _explain(df)
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "n_chars" in pushed


def test_pipeline_split_is_pure_projection(spark, sf_dir):
    """The train/test split adds zero exchanges beyond its aggregate:
    the assignment itself is a projection (scale: no shuffle to split)."""
    from iceberg_datafusion_arrow_flight_spark.operators.pipeline import (
        train_test_split)
    from iceberg_datafusion_arrow_flight_spark.sources.registry import load_table
    df = train_test_split(load_table(spark, sf_dir, "documents"))
    plan = _explain(df)
    assert "Exchange" not in plan


def test_decontaminate_broadcasts_benchmark_grams(spark, sf_dir):
    """The benchmark gram set must broadcast — the corpus side is never
    shuffled on gram, the property that lets the scan scale to 100 TB
    while the benchmark stays ~MBs."""
    df = REGISTRY["pipeline_decontaminate"].build(spark, sf_dir)
    plan = _explain(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q21_single_fact_shuffle_no_self_join(spark, sf_dir):
    """Q21's two correlated EXISTS subqueries are rewritten as windows
    over the orderkey partition: lineitem must appear ONCE in the plan
    (no self-joins) and supplier must broadcast."""
    df = REGISTRY["tpch_q21_suppliers_kept_waiting"].build(spark, sf_dir)
    plan = _explain(df)
    assert plan.count("lineitem.parquet") == 1, \
        f"lineitem scanned more than once:\n{plan}"
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q15_no_second_fact_scan(spark, sf_dir):
    """Q15's revenue view is reused for both the max and the equality
    probe — Catalyst may re-scan for the 1-row max, but the max side
    must arrive as a broadcast, never a shuffled join."""
    df = REGISTRY["tpch_q15_top_supplier"].build(spark, sf_dir)
    plan = _explain(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pii_redact_is_pure_projection(spark, sf_dir):
    """PII detect/redact is a scan→project pipeline: the only exchange
    allowed is the final presentation sort."""
    df = REGISTRY["pipeline_pii_redact"].build(spark, sf_dir)
    plan = _explain(df)
    assert "Exchange hashpartitioning" not in plan, \
        f"PII projection introduced a shuffle:\n{plan}"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lm_score_broadcasts_model_sides(spark, sf_dir):
    """The unigram/vocab model sides broadcast; the only shuffles are
    the count aggregates and the gram-keyed scoring join."""
    df = REGISTRY["text_lm_score"].build(spark, sf_dir)
    plan = _explain(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tfidf_broadcasts_vocabulary(spark, sf_dir):
    df = REGISTRY["text_tfidf_topk"].build(spark, sf_dir)
    plan = _explain(df)
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_countmin_probe_broadcasts_sketch(spark, sf_dir):
    """The d*w sketch broadcasts to the probe side; the token stream is
    aggregated with partial+final hash aggregates, never nested-looped."""
    df = REGISTRY["sketch_heavy_hitters"].build(spark, sf_dir)
    plan = _explain(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2


def test_q9_star_dims_broadcast_and_name_filter_pushed(spark, sf_dir):
    """Q9: part/supplier/nation broadcast; the p_name LIKE filter prunes
    at the part scan, before the join fan-out."""
    df = REGISTRY["tpch_q9_product_type_profit"].build(spark, sf_dir)
    plan = _explain(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert "PushedFilters: [" in plan, "no pushdown section in any scan"
    # The p_name LIKE filter must appear inside a scan's pushed-filter
    # list (StringContains), not merely in the projection.
    pushed_sections = [seg.split("]", 1)[0]
                       for seg in plan.split("PushedFilters: [")[1:]]
    assert any("p_name" in s for s in pushed_sections), pushed_sections


def test_q2_correlated_min_decorrelates(spark, sf_dir):
    """Q2's correlated MIN subquery must decorrelate to an aggregate
    joined back on partkey — no per-row re-execution (no nested
    subquery nodes in the physical plan)."""
    df = REGISTRY["tpch_q2_minimum_cost_supplier"].build(spark, sf_dir)
    plan = _explain(df)
    assert "Subquery" not in plan.split("== Physical Plan ==", 1)[-1] \
        or "SubqueryBroadcast" in plan  # dynamic-pruning subqueries OK
    assert plan.count("HashAggregate") >= 2


def test_q20_semi_join_shape(spark, sf_dir):
    """Q20's IN-subquery plans as a semi join (or a broadcast variant),
    never a cartesian."""
    df = REGISTRY["tpch_q20_potential_part_promotion"].build(spark, sf_dir)
    plan = _explain(df)
    assert "LeftSemi" in plan or "ExistenceJoin" in plan
    assert "CartesianProduct" not in plan


def test_substring_overlap_no_cartesian(spark, sf_dir):
    """The substring-overlap inverted index must plan as an equi-join on
    the gram hash — never a cartesian/BNLJ candidate space."""
    df = REGISTRY["dedup_substring_overlap"].build(spark, sf_dir)
    plan = _explain(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_profile_columns_single_aggregate_job(spark, sf_dir):
    """The column profiler is ONE aggregate over the scan (Expand for
    multi-distinct) — not one job per metric."""
    df = REGISTRY["pipeline_profile_columns"].build(spark, sf_dir)
    plan = _explain(df)
    # exactly one scan node (formatted explain lists each scan's detail
    # block once, keyed by its file index)
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "Expand" in plan  # the multi-distinct one-pass shape


def test_chunk_documents_zero_shuffle(spark, sf_dir):
    """Chunking is a projection+explode — the plan must contain NO
    exchange at all (it parallelizes with the scan)."""
    df = REGISTRY["pipeline_chunk_documents"].build(spark, sf_dir)
    plan = _explain(df)
    assert "Exchange" not in plan


def test_weighted_sample_is_topk_not_full_sort(spark, sf_dir):
    """Selection must plan as TakeOrderedAndProject (per-partition
    heaps), never a global Sort of the corpus."""
    df = REGISTRY["pipeline_weighted_sample"].build(spark, sf_dir)
    plan = _explain(df)
    assert "TakeOrderedAndProject" in plan


def test_bloom_probe_broadcasts_filter(spark, sf_dir):
    """The <= m-row bloom relation must broadcast to the probe side."""
    df = REGISTRY["sketch_bloom_membership"].build(spark, sf_dir)
    plan = _explain(df)
    assert "BroadcastHashJoin" in plan


def test_pq_training_assignment_is_broadcast_join(spark, sf_dir):
    """PQ Lloyd assignment joins the exploded subvectors against a
    BROADCAST centroid table — constant-size plan regardless of m·k
    (the literal-forest spelling cost ~7 s of Catalyst analysis per
    iteration), and never shuffles the corpus side for the compare."""
    from pyspark.sql import functions as F
    from iceberg_datafusion_arrow_flight_spark.operators.similarity import (
        _as_double, _normed, fan_out)
    from iceberg_datafusion_arrow_flight_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = fan_out(emb).select(F.col("vec_id").alias("__id"),
                               _normed(_as_double(F.col("embedding"))).alias("__nv"))
    m, d = 8, 8
    subs = (base.select("__id", F.explode(F.array(*[
                F.struct(F.lit(s).cast("int").alias("s"),
                         F.slice("__nv", s * d + 1, d).alias("sub"))
                for s in range(m)])).alias("e"))
            .select("__id", "e.s", "e.sub"))
    cents = spark.createDataFrame(
        [(s, c, [0.0] * d) for s in range(m) for c in range(1, 17)],
        "s int, code int, cent array<double>")
    joined = subs.join(F.broadcast(cents), "s")
    plan = _explain(joined)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pq_topk_sql_string_encode_matches_column_form(spark, sf_dir):
    """The F.expr SQL-string spelling of the PQ distance fold must be
    expression-identical to the Column-object spelling (repr(float)
    round-trips doubles exactly) — same codes, same distances."""
    from pyspark.sql import functions as F
    from iceberg_datafusion_arrow_flight_spark.operators.similarity import (
        _sq_l2_sql, _sq_l2_to_literal)

    cent = [0.125, -1.5, 1e-05, 3.0071]
    df = (spark.range(5)
          .select(F.expr("array(cast(id as double), cast(id+1 as double),"
                         "cast(id*0.5 as double), cast(-id as double))")
                  .alias("v")))
    got = df.select(
        F.expr(_sq_l2_sql("v", cent)).alias("a"),
        _sq_l2_to_literal(F.col("v"), cent).alias("b")).collect()
    assert all(r.a == r.b for r in got)  # bit-exact, not approx


def test_connected_components_materializes_edges_once(spark, sf_dir):
    """The mirrored edge list must read the checkpointed edges, not
    re-execute the upstream pair-mining lineage twice: after the first
    round the und plan contains no parquet scan at all."""
    from iceberg_datafusion_arrow_flight_spark.operators import dedup as D
    from iceberg_datafusion_arrow_flight_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                                  threshold_num=8, threshold_den=10)
    comp = D.connected_components(pairs)
    plan = _explain(comp)
    # the component result's lineage bottoms out at checkpointed label
    # tables — the documents scan ran exactly once, inside the checkpoint
    assert "Scan ExistingRDD" in plan or "LogicalRDD" in plan
    assert "Location: InMemoryFileIndex" not in plan


def test_gopher_rules_pure_projection(spark, sf_dir):
    """Every Gopher rule signal is a codegen'd expression over the token
    array — no explode, no exchange, no Python; the rule pass rides the
    scan that already reads the text column."""
    from iceberg_datafusion_arrow_flight_spark.operators.pipeline import (
        gopher_rules)
    from iceberg_datafusion_arrow_flight_spark.sources.registry import load_table
    df = gopher_rules(load_table(spark, sf_dir, "documents"))
    plan = _explain(df)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Generate" not in plan  # no explode: signals fold in place


def test_boilerplate_frequent_set_broadcasts(spark, sf_dir):
    """The mined frequent-span set must broadcast back onto the gram
    stream — the corpus is never self-joined on gram, so the only wide
    exchanges are the gram-count aggregate and the per-doc rollup."""
    df = REGISTRY["pipeline_boilerplate_coverage"].build(spark, sf_dir)
    plan = _explain(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan \
        and "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan  # gram join must not shuffle-sort


def test_split_leakage_no_cartesian_and_projected_split(spark, sf_dir):
    """The leakage audit joins the (small) verified pair set against the
    split assignment twice by id — no cartesian forms anywhere, and the
    split itself stays a pure projection over the scan."""
    df = REGISTRY["pipeline_split_leakage"].build(spark, sf_dir)
    plan = _explain(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_semantic_decontaminate_broadcasts_benchmark(spark, sf_dir):
    """The eval-set embedding side broadcasts; the corpus streams through
    a projection and is only exchanged for its per-row argmax window —
    a BroadcastNestedLoopJoin here is the intended all-pairs-vs-small
    shape (the benchmark side is eval-suite sized by contract)."""
    df = REGISTRY["pipeline_semantic_decontaminate"].build(spark, sf_dir)
    plan = _explain(df)
    assert "Broadcast" in plan
    assert "CartesianProduct" not in plan


def test_mips_topk_broadcasts_queries(spark, sf_dir):
    """MIPS top-k keeps the sim_topk_cosine shape: query side broadcast,
    corpus never shuffled before the per-query rank."""
    df = REGISTRY["sim_mips_topk"].build(spark, sf_dir)
    plan = _explain(df)
    assert "Broadcast" in plan
    assert "CartesianProduct" not in plan


def test_zipf_fit_caps_global_sort_at_topk(spark, sf_dir):
    """The rank window only ever sees the top-1000 types: the global
    order must plan as TakeOrderedAndProject (top-k), not a full sort
    of the vocabulary into one partition."""
    df = REGISTRY["text_zipf_law_fit"].build(spark, sf_dir)
    plan = _explain(df)
    assert "TakeOrderedAndProject" in plan


def test_window_distinct_count_no_python(spark, sf_dir):
    """The collect_set-based DISTINCT window emulation stays JVM-side."""
    df = REGISTRY["window_distinct_count"].build(spark, sf_dir)
    plan = _explain(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_edit_distance_candidates_equi_join_no_python(spark, sf_dir):
    """PassJoin candidates must come from an equi-join on
    (segment#, segment text) — never a cartesian/BNLJ pair space — and
    the window/segment generation is pure JVM expression (nested
    transform over sequence), no Python eval in the plan."""
    df = REGISTRY["dedup_edit_distance"].build(spark, sf_dir)
    plan = _explain(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_ann_witness_reports_no_python(spark, sf_dir):
    """The three ANN recall witnesses (IVF/LSH/PQ) stay JVM-side: bucket
    and codebook math is literal-folded expression, candidates come from
    equi-joins (LSH buckets / IVF cells) or the documented broadcast of
    the query side — never a row-at-a-time Python eval."""
    for name in ("sim_ann_recall_report", "sim_ann_lsh_recall_report",
                 "sim_ann_pq_recall_report"):
        plan = _explain(REGISTRY[name].build(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_checkpoint_partitioned_round_is_exchange_free(spark):
    """Iterative driver loops (pagerank, connected_components) pay ONE
    up-front shuffle of their static edge table via
    checkpoint_partitioned; every round's broadcast-join + keyed agg
    must then plan with ZERO non-broadcast exchanges — the captured
    HashPartitioning survives the localCheckpoint (it would not under
    AQE, which is why the helper materializes with AQE off)."""
    from pyspark.sql import functions as F
    from iceberg_datafusion_arrow_flight_spark.operators.partitioning import (
        checkpoint_partitioned)
    e = (spark.range(20000)
         .select((F.col("id") % 97).alias("a"), (F.col("id") % 131).alias("b"))
         .localCheckpoint(eager=True))
    # A small input lands on one partition per core, not on
    # shuffle.partitions (raised here above defaultParallelism so the two
    # differ; AQE would coalesce the same exchange to this size).
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        und = checkpoint_partitioned(
            e.unionAll(e.select(F.col("b").alias("a"),
                                F.col("a").alias("b"))),
            "a")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "32"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    cores = spark.sparkContext.defaultParallelism
    assert und.rdd.getNumPartitions() == cores
    part = (und._jdf.queryExecution().executedPlan()
            .outputPartitioning().toString())
    assert part.startswith("hashpartitioning(a#") and \
        part.endswith(f", {cores})"), part
    labels = (und.select(F.col("a").alias("node")).distinct()
              .withColumn("label", F.col("node")).localCheckpoint(eager=True))
    neigh = (und.join(F.broadcast(labels), und["b"] == labels["node"])
             .groupBy("a").agg(F.min("label").alias("__nl")))
    plan = _explain(neigh, mode="simple")
    import re
    non_broadcast = [m for m in re.findall(r"\w*Exchange\w*", plan)
                     if "Broadcast" not in m]
    assert non_broadcast == [], plan
    # AQE flag restored after the helper ran
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_partition_count_follows_aqe_coalescing_target(spark):
    """partition_count = min(shuffle.partitions, max(defaultParallelism,
    ceil(sizeInBytes / advisoryPartitionSizeInBytes))), read from the
    optimizer's estimate without a job: a small table gets one partition
    per core, a mid-sized one ceil(size / advisory), and one whose
    estimate exceeds shuffle.partitions × advisory stays at
    shuffle.partitions — and checkpoint_partitioned materializes at that
    count."""
    from pyspark.sql import functions as F
    from iceberg_datafusion_arrow_flight_spark.operators.partitioning import (
        checkpoint_partitioned, partition_count)
    e = (spark.range(20000)
         .select((F.col("id") % 97).alias("a"), F.col("id").alias("b"))
         .localCheckpoint(eager=True))
    size = int(e._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    cores = spark.sparkContext.defaultParallelism
    keys = ("spark.sql.shuffle.partitions",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    prev = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set(keys[0], str(4 * cores))
        assert partition_count(e) == cores
        spark.conf.set(keys[1], str(size // (cores + 2) + 1))
        assert partition_count(e) == cores + 2
        spark.conf.set(keys[1], str(size // (8 * cores)))
        assert partition_count(e) == 4 * cores
        big = checkpoint_partitioned(e, "a")
        assert big.rdd.getNumPartitions() == 4 * cores
        # an explicit count wins over the estimate
        assert checkpoint_partitioned(e, "a", partitions=3) \
            .rdd.getNumPartitions() == 3
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_fallback_round_join_is_exchange_free_without_broadcast(spark):
    """The non-broadcast regime (state too big for the broadcast
    threshold): the edge table is checkpointed partitioned on the JOIN
    key and the state on the node id, so the per-round join is
    co-partitioned — NO exchange on the O(edges) side; the only
    per-round shuffle is the group-key aggregation's O(nodes)
    partial-agg output.  This is the production round shape
    connected_components/pagerank build with broadcast_state=False: one
    partition count, computed once from the edge table, for both
    sides."""
    import re
    from pyspark.sql import functions as F
    from iceberg_datafusion_arrow_flight_spark.operators.partitioning import (
        checkpoint_partitioned, partition_count)
    # Emulate "state too big to broadcast": disable auto-broadcast so
    # the planner faces the same choice it would with a TB-scale state
    # side (the fixture relation is tiny and would otherwise broadcast).
    prev = {k: spark.conf.get(k)
            for k in ("spark.sql.autoBroadcastJoinThreshold",
                      "spark.sql.shuffle.partitions")}
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # shuffle.partitions above the computed count: the join must still
    # see two sides with the SAME count, or it re-exchanges one of them
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        e = (spark.range(20000)
             .select((F.col("id") % 97).alias("a"),
                     (F.col("id") % 131).alias("b"))
             .localCheckpoint(eager=True))
        n = partition_count(e)
        und = checkpoint_partitioned(
            e.unionAll(e.select(F.col("b").alias("a"),
                                F.col("a").alias("b"))),
            "b", partitions=n)
        # production init shape (operators/dedup.py:connected_components):
        # groupBy, not distinct+alias — an aliased label would make the
        # checkpoint capture hashpartitioning(label) and re-exchange here
        labels = checkpoint_partitioned(
            und.groupBy(F.col("a").alias("node"))
            .agg(F.min("a").alias("label")), "node", partitions=n)
        neigh = (und.join(labels, und["b"] == labels["node"])
                 .groupBy("a").agg(F.min("label").alias("__nl")))
        plan = _explain(neigh, mode="simple")
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert n == spark.sparkContext.defaultParallelism
    assert und.rdd.getNumPartitions() == labels.rdd.getNumPartitions() == n
    exchanges = [m for m in re.findall(r"\w*Exchange\w*", plan)
                 if "Broadcast" not in m]
    # exactly ONE shuffle — the dst-keyed aggregation; the join itself
    # reuses both sides' checkpointed HashPartitioning
    assert len(exchanges) == 1, plan
    assert "BroadcastHashJoin" not in plan, plan  # genuinely non-broadcast


def test_iterative_graph_ops_agree_across_regimes(spark):
    """connected_components and pagerank must return identical results
    whether the state side broadcasts or falls back to co-partitioned
    joins — the regime is a physical-plan choice, never a semantic one."""
    from pyspark.sql import functions as F
    from iceberg_datafusion_arrow_flight_spark.operators.dedup import (
        connected_components)
    from iceberg_datafusion_arrow_flight_spark.operators.graph import pagerank
    edges = (spark.range(600)
             .select((F.col("id") % 53).alias("id_a"),
                     ((F.col("id") * 7) % 59).alias("id_b")))
    cc_b = connected_components(edges, broadcast_state=True)
    cc_f = connected_components(edges, broadcast_state=False)
    assert sorted(map(tuple, cc_b.collect())) == \
        sorted(map(tuple, cc_f.collect()))
    dir_edges = edges.select(F.col("id_a").alias("src"),
                             F.col("id_b").alias("dst"))
    pr_b = pagerank(dir_edges, iterations=3, broadcast_state=True)
    pr_f = pagerank(dir_edges, iterations=3, broadcast_state=False)
    assert sorted(map(tuple, pr_b.collect())) == \
        sorted(map(tuple, pr_f.collect()))


def test_pagerank_job_budget(spark, sf_dir):
    """graph_pagerank_supply_chain's Spark jobs, counted under its own
    job group.  Before the set-up was folded into one node table, the
    plan ran 32 jobs here: eager materializations of the dangling set
    and of the teleport vector, ``isEmpty()`` on the dangling set and a
    separate node count, on top of the edge list and the rounds.  Now one
    aggregate over the node table answers the node, dangling and seed
    counts, and the teleport vector is a literal projection of it: 19
    jobs, bounded at 21 so scheduling detail does not flake the test."""
    sc = spark.sparkContext
    prior = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", "pagerank-job-budget")
    try:
        rows = REGISTRY["graph_pagerank_supply_chain"].build(
            spark, sf_dir).collect()
        jobs = sc.statusTracker().getJobIdsForGroup("pagerank-job-budget")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prior)
    assert len(rows) == 20
    assert len(jobs) <= 21, len(jobs)


def test_checkpoint_partitioned_concurrent_flip_is_serialized(spark):
    """ADVICE r4: two concurrent checkpoint_partitioned callers could
    interleave save/flip/restore so one captured the other's transient
    'false' and restored it, leaving AQE off session-wide.  The
    module-level lock serializes the flip; after any number of
    concurrent callers, the session conf must be back to its original
    value and every checkpoint must still capture its HashPartitioning."""
    import threading
    from pyspark.sql import functions as F
    from iceberg_datafusion_arrow_flight_spark.operators.partitioning import (
        checkpoint_partitioned)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    results: list = [None] * 8
    errors: list = []

    def worker(i: int) -> None:
        try:
            df = (spark.range(5000)
                  .select((F.col("id") % (13 + i)).alias("k"),
                          F.col("id").alias("v")))
            results[i] = checkpoint_partitioned(df, "k")
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    for df in results:
        part = (df._jdf.queryExecution().executedPlan()
                .outputPartitioning().toString())
        assert "hashpartitioning(k" in part, part


def test_lazy_return_operators_leave_cache_manager_empty(spark, sf_dir):
    """Unpersist discipline (VERDICT r4 #6): operators that return lazy
    plans must not pin Dataset.cache() entries they can never release —
    they localCheckpoint instead (ContextCleaner-reclaimed).  After
    materializing each known ex-offender, the SQL CacheManager must be
    empty.  The DuckDB gate harness enforces the same invariant for
    every registry entry (testing/oracle.py:run_all)."""
    from iceberg_datafusion_arrow_flight_spark.testing.oracle import (
        _cache_manager_empty)
    spark.catalog.clearCache()
    for name in ("sim_semantic_dedup", "dedup_minhash_lsh",
                 "dedup_simhash", "dedup_cross_corpus"):
        if name not in REGISTRY:
            continue
        REGISTRY[name].build(spark, sf_dir).collect()
        assert _cache_manager_empty(spark), f"{name} leaked a cache() entry"


def test_triangle_count_no_cartesian_and_hashed_wedge_joins(spark, sf_dir):
    """Triangle counting must stay keyed — a CartesianProduct would be
    the all-pairs disaster at scale — and the adjacency joins of the
    edge-iterator form must take the ShuffledHashJoin path (both sides
    are edge-list-sized; sorting for SMJ is pure waste).  The wedge
    stream itself never materializes: triangles close via JVM-side
    array_intersect over packed adjacency arrays (operators/graph.py:
    triangles, r7 rewrite)."""
    df = REGISTRY["graph_triangle_count"].build(spark, sf_dir)
    plan = _explain(df)
    assert "CartesianProduct" not in plan
    assert "ShuffledHashJoin" in plan


def test_containment_pairs_no_cartesian(spark, sf_dir):
    """The asymmetric containment join must stay keyed: candidates come
    from the prefix-vs-full-index equi-join, never doc×doc."""
    df = REGISTRY["dedup_containment"].build(spark, sf_dir)
    plan = _explain(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cross_corpus_decontaminate_no_cartesian(spark, sf_dir):
    """The LSH twin exists precisely so neither corpus-sized side is
    crossed or broadcast wholesale: candidates come from bucket-keyed
    equi-joins only."""
    df = REGISTRY["sim_cross_corpus_decontaminate"].build(spark, sf_dir)
    plan = _explain(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_url_domain_filter_is_pure_projection(spark, sf_dir):
    """The C4 URL gate must ride the scan: no shuffle before the final
    per-source aggregate, no Python in the pipeline."""
    df = REGISTRY["pipeline_url_domain_filter"].build(spark, sf_dir)
    plan = _explain(df)
    assert plan.count("Exchange hashpartitioning") <= 1  # the agg only
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pack_boundary_loss_single_shard_window(spark, sf_dir):
    """Packing audits shard-locally: exactly one window exchange (by
    shard), one aggregate exchange — never a global window."""
    df = REGISTRY["pipeline_pack_boundary_loss"].build(spark, sf_dir)
    plan = _explain(df)
    assert "Window" in plan
    # a global (un-partitioned) window would plan Exchange SinglePartition
    # before the Window node
    window_section = plan.split("Window", 1)[0]
    assert "SinglePartition" not in window_section


def test_interval_overlap_join_is_hash_join_on_bin(spark, sf_dir):
    """The interval×interval overlap join must plan as an EQUI (hash)
    join keyed on the bin id with the exact overlap predicate as a
    residual — never a nested-loop/cartesian (the naive theta-join
    plan that dies at scale).  The once-per-pair emission is a filter
    INSIDE the join condition, so no dedup aggregation appears between
    the join and the final rollup."""
    df = REGISTRY["join_interval_overlap"].build(spark, sf_dir)
    plan = _explain(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "__bin" in plan  # the bin equi-key reached the join
    assert "HashJoin" in plan


def test_winnowing_has_no_nested_loop(spark, sf_dir):
    """Winnowing's fingerprint-pair join is an inverted-index equi-join
    on the hash — the df cap bounds fan-out; the plan must contain only
    hash/sort-merge joins."""
    df = REGISTRY["dedup_winnowing_fingerprints"].build(spark, sf_dir)
    plan = _explain(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dau_wau_mau_spine_join_is_equi(spark, sf_dir):
    """The day-spine join must be an EQUI join on the exploded spine
    day — the r8 shape (no-equi-key range predicate) planned a
    BroadcastNestedLoopJoin, making the work pairs x TOTAL-days
    instead of pairs x 30 (a 30-100x multiplier at years of history)."""
    df = REGISTRY["events_dau_wau_mau"].build(spark, sf_dir)
    plan = _explain(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "explode" in plan.lower()  # the sequence fan-out reached the plan
    assert "HashJoin" in plan


def test_range_frame_count_no_single_partition_window(spark, sf_dir):
    """window_range_frame's distributed CDF replacement must never move
    the (table-fraction-sized) input through a one-task sort."""
    df = REGISTRY["window_range_frame"].build(spark, sf_dir)
    plan = _explain(df)
    assert "Exchange SinglePartition" not in plan


def _iter_logical_nodes(node):
    yield node
    for i in range(node.children().size()):
        yield from _iter_logical_nodes(node.children().apply(i))


_REDUCING_NODES = ("Aggregate", "GlobalLimit", "Deduplicate")
# Leaves that are inherently tiny: literal relations, not table scans.
_LITERAL_LEAVES = ("LocalRelation", "OneRowRelation", "Range")


def _subtree_is_reduced(node) -> bool:
    """True when every path from ``node`` down to a leaf passes through
    a cardinality-collapsing node (or ends at a literal relation).  The
    r9 any-descendant version exempted a window over ``big_table JOIN
    (aggregated dim)`` because the far side of the join had an
    Aggregate (ADVICE r9) — domination closes that: a join is reduced
    only if EVERY child subtree is."""
    if node.getClass().getSimpleName() in _REDUCING_NODES:
        return True
    n = node.children().size()
    if n == 0:
        return node.getClass().getSimpleName() in _LITERAL_LEAVES
    return all(_subtree_is_reduced(node.children().apply(i))
               for i in range(n))


def _window_input_is_reduced(w) -> bool:
    """True when the global window's input is DOMINATED by reducing
    nodes — the documented tiny-intermediate exemption."""
    return all(_subtree_is_reduced(w.children().apply(i))
               for i in range(w.children().size()))


# Entries whose empty-partition window is documented-tiny for a reason
# the Aggregate/GlobalLimit heuristic can't see.  EMPTY as of r9: the
# r8 purge plus the r9 window_range_frame fix removed every instance.
_GLOBAL_WINDOW_ALLOWLIST: frozenset[str] = frozenset()


def test_registry_has_no_global_window_over_unreduced_input(spark, sf_dir):
    """Registry-wide guard for the single-partition-window class (the r8
    purge fixed 9 instances; this sweep keeps r9+ entries from
    reintroducing it): every entry's ANALYZED plan must contain no
    Window with an empty partitionSpec over an input that has not been
    collapsed by an aggregation / global limit / dedup first."""
    offenders = {}
    for name, spec in REGISTRY.items():
        if name in _GLOBAL_WINDOW_ALLOWLIST:
            continue
        # Entries whose build() MATERIALIZES results (streaming jobs,
        # COPY round-trips, the Flight service round-trip) return a
        # createDataFrame over collected rows — a LocalRelation scan
        # that cannot contain a Window node.  Building them here would
        # execute multi-second streaming/IO jobs for zero added
        # coverage, so they are skipped by tag.
        if {"streaming", "io", "service"} & set(spec.tags or ()):
            continue
        df = spec.build(spark, sf_dir)
        analyzed = df._jdf.queryExecution().analyzed()
        for node in _iter_logical_nodes(analyzed):
            if (node.getClass().getSimpleName() == "Window"
                    and node.partitionSpec().isEmpty()
                    and not _window_input_is_reduced(node)):
                offenders.setdefault(name, 0)
                offenders[name] += 1
    assert not offenders, (
        f"global (empty-partition) windows over table-sized input: "
        f"{offenders}")


def test_multiprobe_lsh_no_cartesian_and_query_side_fanout(spark, sf_dir):
    """Multiprobe candidates must come from bucket EQUI-joins; the
    probe explode multiplies only the query side (generate over the
    small relation), never the corpus.  The witness plan contains
    exactly ONE nested-loop join — the brute-force exact-top-k
    baseline it reports recall against (broadcast queries × corpus,
    the documented baseline shape) — and none on the candidate side."""
    df = REGISTRY["sim_ann_lsh_multiprobe_recall"].build(spark, sf_dir)
    plan = _explain(df, "simple")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1  # the exact side
    assert "BroadcastHashJoin" in plan                 # bucket equi-joins
    assert "Generate" in plan or "explode" in plan.lower()
