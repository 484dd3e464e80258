

def test_global_cumsum_matches_single_window(spark):
    """global_cumsum ≡ the single-task global window it replaces, on a
    deliberately skewed multi-partition input."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from unity_to_bigquery_spark.operators.enumerate import global_cumsum

    # "tag" is carried by the row side only, so the partition-sum side
    # cannot share the row side's range exchange by plan coincidence
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        ((F.col("id") * 37) % 101).alias("v"),
        F.md5(F.col("id").cast("string")).alias("tag"),
    ).repartition(13)
    out = global_cumsum(df, ["k"], "v", "cum", num_partitions=7)
    got = {(r.k, r.tag, r.cum) for r in out.collect()}
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        (r.k, r.tag, r.cum)
        for r in df.withColumn("cum", F.sum("v").over(w)).collect()
    }
    assert got == want
    # partition sums and running sums read ONE range exchange (reused
    # exchanges print as ReusedExchange and do not match)
    import re

    final = out._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    ids = re.findall(r"^\W*Exchange rangepartitioning.*plan_id=(\d+)", final, re.M)
    assert len(set(ids)) <= 1
