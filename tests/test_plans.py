"""Physical-plan regression tests (the 100 TB design contract):
broadcasts stay broadcast, filters reach the parquet scan, column
pruning holds, and the as-of join stays a single-shuffle plan.
"""

from __future__ import annotations

import re

from unity_to_bigquery_spark.registry import all_queries

QUERIES = all_queries()


def _plans(spark, sf_dir, name):
    df = QUERIES[name].spark(spark, sf_dir)
    qe = df._jdf.queryExecution()
    return qe.executedPlan().toString(), qe.explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_q05_broadcasts_dims(spark, sf_dir):
    physical, _ = _plans(spark, sf_dir, "q05_local_supplier_volume")
    assert "BroadcastHashJoin" in physical
    assert "BroadcastNestedLoopJoin" not in physical


def test_q01_filter_pushdown_and_pruning(spark, sf_dir):
    _, fmt = _plans(spark, sf_dir, "q01_pricing_summary")
    assert re.search(r"PushedFilters: \[.*LessThanOrEqual\(l_shipdate", fmt)
    m = re.search(r"ReadSchema: (struct<[^\n]*)", fmt)
    assert m, "no ReadSchema in formatted plan"
    # 7 of 11 lineitem columns needed; pruning must drop the rest
    assert "l_orderkey" not in m.group(1)
    assert "l_partkey" not in m.group(1)


def test_asof_join_single_shuffle(spark, sf_dir):
    physical, _ = _plans(spark, sf_dir, "j_asof_last_order_before_event")
    # union carry-forward: exactly one Exchange (the window shuffle),
    # and no join operator at all
    assert physical.count("Exchange hashpartitioning") == 1
    for join_op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert join_op not in physical


def test_routing_dim_is_broadcast(spark, sf_dir):
    physical, _ = _plans(spark, sf_dir, "e_routing_dim")
    assert "BroadcastHashJoin" in physical


def test_cosine_topk_broadcasts_queries(spark, sf_dir):
    physical, _ = _plans(spark, sf_dir, "sim_cosine_topk")
    # query batch must be the broadcast side of the cross join
    assert "BroadcastNestedLoopJoin" in physical


def test_no_cartesian_in_interval_join(spark, sf_dir):
    physical, _ = _plans(spark, sf_dir, "j_interval_ships_within_30d")
    assert "CartesianProduct" not in physical
    assert "BroadcastNestedLoopJoin" not in physical


def test_decontaminate_broadcasts_benchmark_shingles(spark, sf_dir):
    """The benchmark shingle set must reach the training stream as a
    broadcast semi-join — a shuffled join here would move the whole
    corpus's shingles at 100 TB."""
    physical, _ = _plans(spark, sf_dir, "t_decontaminate")
    assert "BroadcastHashJoin" in physical and "LeftSemi" in physical


def test_train_test_split_single_shuffle(spark, sf_dir):
    """Hash-split + rollup: per-row hashing in the scan stage, exactly
    one exchange (the groupBy)."""
    physical, _ = _plans(spark, sf_dir, "p_train_test_split")
    assert physical.count("Exchange hashpartitioning") == 1


def test_corpus_pipeline_prunes_and_pushes(spark, sf_dir):
    """The composite pipeline's length filter must reach the parquet
    scan; only the columns it needs may be read."""
    _, fmt = _plans(spark, sf_dir, "p_corpus_pipeline")
    assert "PushedFilters: [IsNotNull(n_chars), GreaterThanOrEqual(n_chars,50)" in fmt or \
           "GreaterThanOrEqual(n_chars,50)" in fmt
    import re
    m = re.search(r"ReadSchema: (struct<[^\n]*)", fmt)
    assert m and "lang" not in m.group(1)  # unused column pruned


def test_sequence_packing_partitions_by_source(spark, sf_dir):
    """The running-sum window shuffles once on source; the chunk rollup
    reuses that partitioning (no second exchange on source alone)."""
    physical, _ = _plans(spark, sf_dir, "p_sequence_packing")
    assert physical.count("Exchange hashpartitioning") <= 2
    assert "Window" in physical


# Whole-inventory plan audit: the slow paths must stay confined to the
# queries that exist to prove them. Anything new that trips these lists
# is a plan regression, not a style choice.
ROW_PYTHON_ALLOWED = {"u_scalar_python_udf", "u_python_udtf"}
# broadcast nested-loop is legitimate for explicit cross joins, theta
# joins, scalar-subquery comparisons (1-row broadcast), and broadcast
# query batches in similarity search
BNLJ_ALLOWED = {
    "j_cross_region_segment",
    "j_theta_supplier_pecking",
    "q11_important_supply_value",
    "q22_global_sales_opportunity",
    "sim_cosine_topk",
    "sim_semantic_decontaminate",
    "sim_ivf_topk",
    "sim_ivf_neardup_pairs",
    "sim_sq8_rerank_topk",
    # persisted-index serving probes cells with the same broadcast
    # query-batch × centroid-table crossJoin as sim_ivf_topk
    "sim_index_topk",
    "sim_index_filtered_topk",
    "sim_index_retraction_topk",
    # the bulk-kNN serve keeps that same probe crossJoin IN the
    # returned plan (the serving path collects it first, hiding it
    # from this audit): build side is the ncells-row centroid
    # relation — bounded by index construction, never by |Q|. The
    # query itself asserts zero driver materialization on the plan.
    "sim_index_bulk_knn_join",
    "p_rag_retrieval",
    # 7-day range self-join over the DAY-level relation (365 rows/yr);
    # the events->day reduction happens before it
    "e_dau_wau",
    # 1-row broadcast corpus scalars (N, Σdl / feasible total T)
    # attached via crossJoin — the correct plan for scalar stats
    "t_bm25_topk",
    "p_domain_mixture",
    # 1-row total-bigram-count scalar crossed onto the vocab dim
    "t_collocations_lift",
    # two 1-row sketch relations crossed for set-algebra estimates
    "e_theta_audience_overlap",
    # 1-row total-URL-count scalar crossed onto the per-host stats for
    # the loud-occupancy share column
    "p_crawl_frontier_skew",
    # 9-row (3x3 neighborhood offsets) broadcast crossed onto the
    # build side of the grid near-join; the candidate join itself is
    # an equi-join on the cell key
    "j_spatial_grid_join",
    # round 13: the persisted-index serve reads the 1-ROW corpus_stats
    # TABLE (n_docs, sum_dl) and crosses it on — the stored-rollup
    # twin of t_bm25_topk's scalar aggregate (a table scan, so the
    # HashAggregate(keys=[]) scalar proof cannot see it)
    "t_index_bm25_topk",
    # round 13: hybrid fusion inherits BOTH documented shapes — the
    # dense side is sim_cosine_topk's broadcast 1-row query-batch
    # crossJoin, the keyword side is t_bm25_topk's 1-row corpus-stats
    # scalar; the RRF fusion join itself is a full-outer EQUI-join
    "t_hybrid_rrf_topk",
}


# the subset of BNLJ_ALLOWED whose justification is "1-row scalar
# broadcast": their allow-list membership is only valid while the plan
# PROVES the build side is scalar — an ungrouped HashAggregate(keys=[])
# somewhere in the build subtree bounds its output at one row at
# plan-build time (VERDICT r4 #7). If a refactor turns the scalar into
# a keyed relation, this trips even though the BNLJ itself still plans.
BNLJ_SCALAR_PROOF = {
    "q11_important_supply_value",
    "q22_global_sales_opportunity",
    "t_bm25_topk",
    "p_domain_mixture",
    "t_collocations_lift",
    "e_theta_audience_overlap",
    "p_crawl_frontier_skew",
}


def _walk_bnlj_build_sides(node, out):
    cls = node.getClass().getSimpleName()
    if cls == "BroadcastNestedLoopJoinExec":
        side = node.buildSide().toString()
        out.append((node.right() if "Right" in side else node.left()).toString())
    if cls == "AdaptiveSparkPlanExec":
        _walk_bnlj_build_sides(node.inputPlan(), out)
    ch = node.children()
    for i in range(ch.length()):
        _walk_bnlj_build_sides(ch.apply(i), out)
    try:  # scalar subqueries hang off expressions, not children
        sq = node.subqueries()
        for i in range(sq.length()):
            _walk_bnlj_build_sides(sq.apply(i), out)
    except Exception:
        pass


def _provably_scalar(subtree: str) -> bool:
    """True when the physical subtree PROVES a ≤1-row output: an
    ungrouped aggregate (Hash/ObjectHash/Sort), or a keyed aggregate
    whose single grouping key is pinned by an equality filter above it
    (one group selected)."""
    import re

    if re.search(r"Aggregate\(keys=\[\]", subtree):
        return True
    m = re.search(r"Aggregate\(keys=\[(\w+)#\d+\]", subtree)
    return bool(m and re.search(rf"Filter .*\({m.group(1)}#\d+ = ", subtree))


# Building a declared query's DataFrame executes its demo body (the
# lakehouse/index demos commit state before returning a plan), so one
# pass over all 335 queries costs minutes at sf0.001. The two
# whole-inventory audits below (slow-path plan audit, primitive-output
# audit) read the builds test_oracle recorded in ``built_queries``.
def _audit_inventory(spark, sf_dir, built):
    """Every declared query as (schema, physical plan string taken
    before it ran); a query test_oracle did not build is built here."""
    for name, q in sorted(QUERIES.items()):
        if name not in built:
            df = q.spark(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            built[name] = (df.schema, plan)
    return {name: built[name] for name in sorted(QUERIES)}


def test_bnlj_scalar_allowlist_build_sides_provably_one_row(spark, sf_dir):
    bad = []
    for name in sorted(BNLJ_SCALAR_PROOF):
        df = QUERIES[name].spark(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan()
        builds = []
        _walk_bnlj_build_sides(plan, builds)
        if not builds:
            bad.append((name, "allow-listed but plans no BNLJ — stale entry"))
        for b in builds:
            if not _provably_scalar(b):
                bad.append((name, b.splitlines()[0]))
    assert not bad, bad


def test_no_unexpected_slow_paths_in_any_plan(spark, sf_dir, built_queries):
    offenders = {"BatchEvalPython": [], "CartesianProduct": [], "BroadcastNestedLoopJoin": []}
    for name, (_schema, phys) in _audit_inventory(spark, sf_dir, built_queries).items():
        if "BatchEvalPython" in phys and name not in ROW_PYTHON_ALLOWED:
            offenders["BatchEvalPython"].append(name)
        if "CartesianProduct" in phys:
            offenders["CartesianProduct"].append(name)
        if "BroadcastNestedLoopJoin" in phys and name not in BNLJ_ALLOWED:
            offenders["BroadcastNestedLoopJoin"].append(name)
    assert not any(offenders.values()), offenders


def test_all_query_outputs_are_primitive(spark, sf_dir, built_queries):
    """Hard rule 4: declared-query outputs are primitives only — no
    array/struct/map/binary/decimal/timestamp column survives to the
    driver's cross-engine hash compare."""
    allowed = {
        "string", "bigint", "int", "double", "boolean",
        "long", "integer", "smallint", "tinyint", "float", "date",
    }
    bad = []
    for name, (schema, _plan) in _audit_inventory(spark, sf_dir, built_queries).items():
        for f in schema.fields:
            t = f.dataType.simpleString()
            if t not in allowed:
                bad.append((name, f.name, t))
    assert not bad, bad


def test_join_strategy_hints_override_planner(spark, sf_dir):
    """Hints are the manual override when statistics mislead at scale:
    MERGE forces sort-merge where broadcast would win, SHUFFLE_HASH
    forces a hash join, BROADCAST forces the small side broadcast."""
    from unity_to_bigquery_spark.catalog import register_views

    register_views(spark, sf_dir)

    def plan(hint):
        return (
            spark.sql(
                f"""
                SELECT /*+ {hint}(n) */ COUNT(*)
                FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
                """
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    assert "SortMergeJoin" in plan("MERGE")
    assert "ShuffledHashJoin" in plan("SHUFFLE_HASH")
    assert "BroadcastHashJoin" in plan("BROADCAST")


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    """Scale lever: Catalyst's runtime bloom-filter injection. With a
    selective filter on the build side of a shuffle join, the probe
    side gains a might_contain(bloom) predicate BELOW the exchange —
    at 100 TB this drops most of the fact-table shuffle volume before
    it is written. The application-side size threshold defaults to
    10 GB (sane in production); it is lowered here only so the toy
    fixture qualifies."""
    import pyspark.sql.functions as F

    from unity_to_bigquery_spark.catalog import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force a shuffle join
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        phys = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in phys, "runtime bloom filter was not injected"
        # the filter must sit on the lineitem (probe) side scan stage
        probe_side = phys[phys.index("might_contain"):]
        assert "l_orderkey" in probe_side.split("\n")[0]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_skew_join_split(spark):
    """Scale lever: AQE's runtime skew-join handling — the automatic
    complement to the manual salting operators (operators/skew.py).
    A hot key concentrating ~all rows in one shuffle partition must be
    split at runtime: the final adaptive plan marks the join
    SortMergeJoin(skew=true) with a skewed AQEShuffleRead below it.
    Thresholds are lowered only so the toy volume qualifies; the
    mechanism is byte-size-relative and scale-free."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(0, 500000).select(
            (F.col("id") * 0).alias("k"), F.col("id").alias("v")
        ).union(
            spark.range(0, 100).select((F.col("id") % 7 + 1).alias("k"), F.col("id").alias("v"))
        )
        right = spark.range(0, 200).select((F.col("id") % 8).alias("k"), F.lit("x").alias("w"))
        j = left.join(right, "k").groupBy().count()
        j.collect()  # AQE decisions exist only in the FINAL executed plan
        phys = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in phys
        assert "skew=true" in phys, "AQE did not split the skewed partition"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dpp_prunes_fact_partitions(spark, sf_dir):
    """p_dpp_pruned_join's fact scan must carry a runtime
    dynamicpruning partition filter (not just the dim's static one)."""
    physical, _ = _plans(spark, sf_dir, "p_dpp_pruned_join")
    assert "dynamicpruning" in physical.lower()


def test_lateral_topk_decorrelates_to_window(spark, sf_dir):
    """The LATERAL correlated LIMIT subquery must decorrelate into the
    window top-k + broadcast join shape, not a nested-loop join."""
    physical, _ = _plans(spark, sf_dir, "j_lateral_topk_nation")
    assert "Window" in physical
    assert "BroadcastNestedLoopJoin" not in physical
