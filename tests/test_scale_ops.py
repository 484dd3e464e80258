"""Scale-path operators: salted aggregation/join equivalence, global
enumeration, approximate percentiles and top-k per key, exercised at
test scale.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from unity_to_bigquery_spark.catalog import load_table
from unity_to_bigquery_spark.operators.skew import replicated_salt_join, salted_aggregate


def test_salted_aggregate_equals_direct(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    salted = salted_aggregate(
        li,
        keys=["l_returnflag"],
        sum_cols={"sum_qty": "l_quantity"},
        salt_col="l_orderkey",
        n_salt=16,
    )
    direct = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("sum_qty")
    )
    got = {r.l_returnflag: (r.n, r.sum_qty) for r in salted.collect()}
    want = {r.l_returnflag: (r.n, r.sum_qty) for r in direct.collect()}
    assert got == want


def test_replicated_salt_join_equals_plain(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    salted = replicated_salt_join(
        li, orders, key="l_orderkey", salt_col="l_quantity", n_salt=8
    )
    plain = li.join(orders, on="l_orderkey")
    assert salted.count() == plain.count()
    g1 = {r.o_orderpriority: r.n for r in salted.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n")).collect()}
    g2 = {r.o_orderpriority: r.n for r in plain.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert g1 == g2


def _range_exchanges(df) -> int:
    """Distinct range exchanges in ``df``'s executed (final) plan, not
    counting reused ones."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    return len(
        set(re.findall(r"^\W*Exchange rangepartitioning.*plan_id=(\d+)", final, re.M))
    )


def test_global_enumerate_is_exact_total_order(spark, sf_dir):
    """global_enumerate assigns the same positions a global-window
    row_number would — contiguous 1..n in key order — without any
    single-partition stage."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from unity_to_bigquery_spark.catalog import load_table
    from unity_to_bigquery_spark.operators.enumerate import global_enumerate

    # orders: o_orderkey is unique -> a valid total order (lineitem's
    # (orderkey, linenumber) is NOT unique in the synthetic fixture)
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    got = global_enumerate(orders, ["o_orderkey"], num_partitions=8)
    want = orders.withColumn(
        "position", F.row_number().over(Window.orderBy("o_orderkey"))
    )
    g = {r.o_orderkey: r.position for r in got.collect()}
    w = {r.o_orderkey: r.position for r in want.collect()}
    assert g == w
    n = len(w)
    assert set(g.values()) == set(range(1, n + 1))
    # counts and positions read ONE range exchange: a second evaluation
    # samples its own boundaries and the offsets stop matching the rows
    assert _range_exchanges(got) <= 1


def test_approx_percentile_within_accuracy_bound(spark, sf_dir):
    """approx_percentile's rank error is bounded by 1/accuracy — the
    sketch answer must land within that rank window of the exact
    percentile (the sublinear path for quantiles over 100 TB)."""
    import pyspark.sql.functions as F

    from unity_to_bigquery_spark.catalog import load_table

    events = load_table(spark, sf_dir, "events")
    n = events.count()
    accuracy = 1000
    approx = events.select(
        F.percentile_approx("value", 0.5, accuracy).alias("p")
    ).first()[0]
    # rank of the approx answer must be within n/accuracy of the median rank
    rank = events.filter(F.col("value") <= approx).count()
    assert abs(rank - n / 2) <= max(n / accuracy, 1) + 1, (rank, n)


def test_salted_topk_per_key_exact_and_bounded(spark):
    """salted_topk_per_key (VERDICT r7 #7): on a planted power-law
    frontier (host 0 owns ~50% of URLs) the salted quota is (a) EXACT —
    bit-identical to the plain per-host window — and (b) BOUNDED: the
    largest phase-1 reducer group is ~1/n_salt of the hot host, and
    the phase-2 re-rank sees ≤ k·n_salt survivors per host."""
    from pyspark.sql import Window

    from unity_to_bigquery_spark.operators.skew import (
        _SALT,
        _det_salt,
        salted_topk_per_key,
    )

    n = 20_000
    urls = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise(F.col("id") % 7 + 1)
        .cast("string")
        .alias("host"),
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
    )
    n_salt, k = 16, 5
    got = sorted(
        map(
            tuple,
            salted_topk_per_key(
                urls, ["host"], [F.asc("url")], k=k,
                salt_col="url", n_salt=n_salt,
            ).collect(),
        )
    )
    w = Window.partitionBy("host").orderBy(F.asc("url"))
    want = sorted(
        map(
            tuple,
            urls.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .collect(),
        )
    )
    assert got == want and len(got) == 8 * k

    # bounded skew: the hot host's plain partition is ~n/2 rows; its
    # largest salted slice is ~1/n_salt of that
    hot = urls.groupBy("host").count().orderBy(F.desc("count")).first()
    assert hot["count"] >= n * 0.45  # the plant is real
    slices = (
        urls.withColumn(_SALT, _det_salt(F.col("url"), n_salt))
        .groupBy("host", _SALT)
        .count()
    )
    max_slice = slices.agg(F.max("count")).first()[0]
    assert max_slice <= hot["count"] / n_salt * 1.5, (max_slice, hot["count"])


def test_profile_table_with_nulls(spark):
    """profile_table: planted nulls/dupes across all four kinds; one
    aggregation pass computes every cell exactly."""
    from unity_to_bigquery_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [
            (1, 1.5, "a", "2024-01-02 03:04:05"),
            (2, None, "b", None),
            (2, 2.25, None, "2024-01-01 00:00:00"),
            (None, 2.25, "a", "2024-01-02 03:04:05"),
        ],
        "i BIGINT, x DOUBLE, s STRING, t STRING",
    ).withColumn("t", F.col("t").cast("timestamp"))
    got = {
        r.col_name: r
        for r in profile_table(
            df, [("i", "int"), ("x", "float"), ("s", "str"), ("t", "ts")]
        ).collect()
    }
    assert (got["i"].n_rows, got["i"].n_nulls, got["i"].n_distinct) == (4, 1, 2)
    assert (got["i"].min_repr, got["i"].max_repr, got["i"].sum6) == ("1", "2", 5)
    assert (got["x"].n_nulls, got["x"].n_distinct) == (1, 2)
    assert (got["x"].min_repr, got["x"].max_repr) == ("1500000", "2250000")
    assert got["x"].sum6 == 1500000 + 2250000 * 2
    assert (got["s"].n_nulls, got["s"].n_distinct, got["s"].sum6) == (1, 2, None)
    assert (got["s"].min_repr, got["s"].max_repr) == ("a", "b")
    assert got["t"].n_nulls == 1 and got["t"].n_distinct == 2
    assert got["t"].min_repr == "2024-01-01 00:00:00"
    assert got["t"].max_repr == "2024-01-02 03:04:05"
