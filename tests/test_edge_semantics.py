"""Edge-case semantics locked in after code review: boundary behaviors
that the driver fixtures cannot reach (exact-gap sessions, single-event
groups, unsupported salt-join modes, corrupted checkpoints).
"""

import datetime as dt

import pandas as pd
import pyspark.sql.functions as F
import pytest

from unity_to_bigquery_spark.operators.skew import replicated_salt_join


def test_session_window_boundary_exactly_gap(spark):
    """An event exactly `gap` after its predecessor MERGES into the same
    session (session_window extends the window to prev_ts + gap and the
    boundary event is included) — so the e_session oracle's strict-``>``
    new-session condition is the correct mirror. Verified empirically:
    a code-review pass claimed the opposite; this test settles it."""
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0),
        (1, t0 + dt.timedelta(minutes=30)),          # exactly the gap → merges
        (1, t0 + dt.timedelta(minutes=60, seconds=1)),  # gap+1s after prev → new
    ]
    df = spark.createDataFrame(rows, "user_id BIGINT, ts TIMESTAMP")
    sessions = (
        df.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .count()
        .collect()
    )
    assert sorted(r["count"] for r in sessions) == [1, 2]


def test_second_max_excludes_single_event_groups(spark, sf_dir):
    from unity_to_bigquery_spark.registry import all_queries

    q = all_queries()["u_grouped_agg_pandas_udf"]
    # Craft a table where user 99999 has exactly one event; run the same
    # logic inline on it.
    @F.pandas_udf("double")
    def second_max(v: pd.Series) -> float:
        return float(v.nlargest(2).iloc[-1])

    @F.pandas_udf("long")
    def pd_count(v: pd.Series) -> int:
        return len(v)

    df = spark.createDataFrame(
        [(1, 10.0), (1, 20.0), (99999, 5.0)], "user_id BIGINT, value DOUBLE"
    )
    out = (
        df.groupBy("user_id")
        .agg(second_max("value").alias("second_max"), pd_count("value").alias("n"))
        .filter(F.col("n") >= 2)
        .collect()
    )
    assert {r.user_id for r in out} == {1}
    assert out[0].second_max == 10.0

    # and the registered query itself runs clean
    assert q.spark(spark, sf_dir).count() > 0


def test_replicated_salt_join_rejects_outer_modes(spark, sf_dir):
    from unity_to_bigquery_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey")
    )
    with pytest.raises(ValueError, match="n_salt times"):
        replicated_salt_join(li, orders, key="l_orderkey", salt_col="l_quantity", how="full")


def _jobs_during(spark, fn):
    """(fn's result, number of Spark jobs it started on this thread)."""
    sc = spark.sparkContext
    group = f"jobs-during-{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(df.collect(), key=repr)


def test_load_table_warm_load_starts_no_job(spark, sf_dir):
    from unity_to_bigquery_spark.catalog import load_table

    first = load_table(spark, sf_dir, "orders")
    again, jobs = _jobs_during(spark, lambda: load_table(spark, sf_dir, "orders"))
    assert jobs == 0  # the remembered schema skips the footer-inference job
    assert again.schema == first.schema
    assert _rows(again) == _rows(first)


def test_load_table_sees_a_rewritten_table_file(spark, sf_dir, tmp_path):
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from unity_to_bigquery_spark.catalog import load_table

    shutil.copy(f"{sf_dir}/region.parquet", tmp_path / "region.parquet")
    before = load_table(spark, str(tmp_path), "region")
    assert "r_name" in before.columns
    pq.write_table(
        pa.table({"r_id": [7, 8], "r_label": ["x", "y"]}), tmp_path / "region.parquet"
    )
    after = load_table(spark, str(tmp_path), "region")
    assert after.columns == ["r_id", "r_label"]
    assert [tuple(r) for r in after.orderBy("r_id").collect()] == [(7, "x"), (8, "y")]


def test_load_table_reads_a_file_added_to_a_directory_table(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from unity_to_bigquery_spark.catalog import load_table

    table_dir = tmp_path / "region.parquet"
    table_dir.mkdir()
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), table_dir / "part-0.parquet")
    assert load_table(spark, str(tmp_path), "region").count() == 2
    pq.write_table(pa.table({"r_regionkey": [2]}), table_dir / "part-1.parquet")
    got = load_table(spark, str(tmp_path), "region")
    assert sorted(r.r_regionkey for r in got.collect()) == [0, 1, 2]


def test_load_table_cache_hit_still_pins_utc(spark, sf_dir):
    from unity_to_bigquery_spark.catalog import load_table

    load_table(spark, sf_dir, "events")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    _, jobs = _jobs_during(spark, lambda: load_table(spark, sf_dir, "events"))
    assert jobs == 0
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_load_table_missing_path_raises_path_not_found(spark, tmp_path):
    from pyspark.errors import AnalysisException

    from unity_to_bigquery_spark.catalog import load_table

    for _ in range(2):  # a failed load leaves nothing behind to hit
        with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
            load_table(spark, str(tmp_path), "supplier")


def test_load_table_ns_events_convert_on_hit_and_miss(spark, sf_dir, tmp_path):
    """events.ts written as parquet timestamp[ns] reads as µs timestamps
    both when the schema is inferred and when it is remembered."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from unity_to_bigquery_spark.catalog import load_table

    ev = pq.read_table(f"{sf_dir}/events.parquet")
    ns = ev.column("ts").cast(pa.int64()).to_numpy() * 1000 + 999  # sub-µs tail
    ev = ev.set_column(ev.schema.get_field_index("ts"), "ts", pa.array(ns, pa.timestamp("ns")))
    pq.write_table(ev, tmp_path / "events.parquet")
    miss = load_table(spark, str(tmp_path), "events")
    hit, jobs = _jobs_during(spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert jobs == 0
    want = load_table(spark, sf_dir, "events")
    assert miss.schema == hit.schema == want.schema
    assert _rows(miss) == _rows(hit) == _rows(want)


def test_load_table_returns_a_fresh_plan_per_call(spark, sf_dir):
    """Two loads of one table self-join without ambiguous attributes:
    the catalog remembers schemas, never DataFrames."""
    from unity_to_bigquery_spark.catalog import load_table

    a = load_table(spark, sf_dir, "supplier").alias("a")
    b = load_table(spark, sf_dir, "supplier").alias("b")
    n = a.count()
    pairs = a.join(b, F.col("a.s_suppkey") < F.col("b.s_suppkey"))
    assert pairs.count() == n * (n - 1) // 2


def test_corrupted_checkpoint_fails_loudly(spark, tmp_path):
    from unity_to_bigquery_spark.plans.pipeline import CheckpointTable

    path = tmp_path / "ckpt"
    path.mkdir()
    (path / "part-00000.parquet").write_bytes(b"this is not parquet")
    ckpt = CheckpointTable(spark, str(path))
    with pytest.raises(Exception) as ei:
        ckpt.read().count()
    assert "PATH_NOT_FOUND" not in str(ei.value)  # a real error, surfaced
