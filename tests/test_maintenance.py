"""Writer layout controls for parquet sinks: bounded file sizes,
partition-local sorts, and SQL DISTRIBUTE BY / SORT BY plans."""

from __future__ import annotations


def test_writer_controls_sorted_bounded_files(spark, sf_dir, tmp_path):
    """Writer-side layout controls for sink hygiene: maxRecordsPerFile
    bounds file sizes (no 10 GB monsters), sortWithinPartitions lays
    rows out for row-group min/max skipping on the read side."""
    import glob

    import pyspark.sql.functions as F

    from unity_to_bigquery_spark.catalog import load_table

    out = str(tmp_path / "bounded")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate", "l_quantity"
    )
    n = li.count()
    (
        li.repartition(2)
        .sortWithinPartitions("l_shipdate")
        .write.option("maxRecordsPerFile", 1000)
        .mode("overwrite")
        .parquet(out)
    )
    files = glob.glob(f"{out}/*.parquet")
    assert len(files) >= max(2, n // 1000)  # the cap actually split files
    back = spark.read.parquet(out)
    assert back.count() == n
    # per-file max(rows) respects the cap
    from pyspark.sql.functions import input_file_name

    per_file = back.groupBy(input_file_name().alias("f")).count()
    assert per_file.agg(F.max("count")).first()[0] <= 1000


def test_distribute_by_sort_by_sql(spark, sf_dir):
    """SQL-level partitioning control: DISTRIBUTE BY hash-partitions,
    SORT BY orders within partitions (no global sort) — the layout
    pre-pass before bucketed writes or merge-friendly sinks."""
    from unity_to_bigquery_spark.catalog import register_views

    register_views(spark, sf_dir)
    df = spark.sql(
        """
        SELECT l_orderkey, l_linenumber FROM lineitem
        DISTRIBUTE BY l_orderkey SORT BY l_orderkey, l_linenumber
        """
    )
    import re

    phys = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"Exchange hashpartitioning\(l_orderkey#\d+", phys)
    # Sort [...], false, 0 -> partition-local sort, not a global one
    assert re.search(r"Sort \[l_orderkey#\d+L? ASC NULLS FIRST, l_linenumber#\d+ ASC NULLS FIRST\], false", phys)
