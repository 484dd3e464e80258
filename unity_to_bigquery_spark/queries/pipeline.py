"""Pipeline/IO declared queries: sink+scan round-trips proving the
reference's IO surface (SURVEY.md §2B Scans/sources/sinks) with
oracle-checkable results — the write paths are exercised inside the
query, then the read-back aggregate must match DuckDB computing the
same aggregate on the original table.
"""

from __future__ import annotations

import os
import tempfile

import pyspark.sql.functions as F

from unity_to_bigquery_spark.catalog import load_table
from unity_to_bigquery_spark.functions.canonical import dsum, sql_dsum
from unity_to_bigquery_spark.registry import query
from unity_to_bigquery_spark.sources.landing import read_csv_with_header, read_ndjson


def _tmp(name: str) -> str:
    root = os.path.join(tempfile.gettempdir(), "u2bq_spark_roundtrips")
    os.makedirs(root, exist_ok=True)
    return os.path.join(root, name)


@query(
    "p_partitioned_parquet_roundtrip",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n, {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc=(
        "Partitioned parquet sink (reference A8 directory layout) + "
        "read-back: partition values survive the round-trip losslessly."
    ),
    tags=("pipeline", "sink"),
)
def p_partitioned_parquet_roundtrip(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp")
    )
    path = _tmp(f"lineitem_part_{os.path.basename(sf_dir.rstrip('/'))}")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), dsum("l_quantity").alias("sum_qty")
    )


@query(
    "p_ndjson_gz_roundtrip",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n, {sql_dsum('value')} AS total_value
    FROM events GROUP BY event_type
    """,
    doc=(
        "Gzipped-NDJSON sink + schema'd scan (reference A4/A10 format: "
        "gunzip + NEWLINE_DELIMITED_JSON) — timestamps travel as strings."
    ),
    tags=("pipeline", "ndjson"),
)
def p_ndjson_gz_roundtrip(spark, sf_dir):
    events = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
    )
    path = _tmp(f"events_ndjson_{os.path.basename(sf_dir.rstrip('/'))}")
    events.write.mode("overwrite").option("compression", "gzip").json(path)
    back = read_ndjson(
        spark,
        path,
        "event_id BIGINT, ts STRING, user_id BIGINT, event_type STRING, value DOUBLE, props STRING",
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("value").alias("total_value")
    )


@query(
    "p_csv_header_roundtrip",
    oracle="""
    SELECT r_name, COUNT(*) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    doc="CSV-with-header sink + header-skipping scan (reference A10 skip_leading_rows).",
    tags=("pipeline", "csv"),
)
def p_csv_header_roundtrip(spark, sf_dir):
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    path = _tmp(f"nation_csv_{os.path.basename(sf_dir.rstrip('/'))}")
    nation.write.mode("overwrite").option("header", True).csv(path)
    back = read_csv_with_header(
        spark, path, "n_nationkey INT, n_name STRING, n_regionkey INT"
    )
    return (
        back.join(F.broadcast(region), back.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )


@query(
    "p_orc_roundtrip",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    doc=(
        "ORC sink + scan roundtrip (the OTHER columnar lakehouse "
        "format Spark reads natively — format-matrix row alongside "
        "parquet/CSV/NDJSON.gz): lineitem is written as ORC with ZLIB "
        "compression and scanned back; the aggregate must match the "
        "parquet-sourced oracle exactly, proving type fidelity "
        "(the double quantity column survives the container switch). "
        "At scale "
        "ORC scans get the same pushdown/pruning as parquet from the "
        "same DataFrame plan."
    ),
    tags=("pipeline", "orc"),
)
def p_orc_roundtrip(spark, sf_dir):
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity"
    )
    path = _tmp(f"lineitem_orc_{os.path.basename(sf_dir.rstrip('/'))}")
    lineitem.write.mode("overwrite").option("compression", "zlib").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "p_deletion_propagation",
    oracle="""
    WITH del AS (SELECT c_custkey AS uid FROM customer WHERE c_custkey % 17 = 0)
    SELECT 'customer' AS tbl,
           (SELECT COUNT(*) FROM customer) AS before_rows,
           (SELECT COUNT(*) FROM customer WHERE c_custkey NOT IN (SELECT uid FROM del)) AS after_rows
    UNION ALL
    SELECT 'orders',
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN (SELECT uid FROM del))
    UNION ALL
    SELECT 'events',
           (SELECT COUNT(*) FROM events),
           (SELECT COUNT(*) FROM events WHERE user_id NOT IN (SELECT uid FROM del))
    """,
    doc=(
        "Deletion propagation (right-to-be-forgotten): one deletion "
        "list anti-joined across every table referencing the subject — "
        "per-table before/after row counts. At 100 TB each leg is a "
        "broadcast anti-join; with Delta this becomes MERGE DELETE."
    ),
    tags=("pipeline", "deletion", "anti"),
)
def p_deletion_propagation(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    deletions = cust.filter(F.col("c_custkey") % 17 == 0).select(
        F.col("c_custkey").alias("uid")
    )

    def leg(df, key, name):
        after = df.join(
            F.broadcast(deletions), df[key] == deletions.uid, "left_anti"
        ).count()
        return spark.createDataFrame(
            [(name, df.count(), after)], "tbl STRING, before_rows BIGINT, after_rows BIGINT"
        )

    return (
        leg(cust, "c_custkey", "customer")
        .unionAll(leg(orders, "o_custkey", "orders"))
        .unionAll(leg(events, "user_id", "events"))
    )


@query(
    "p_unity_export_source",
    oracle="""
    SELECT 'proj0' AS project_id,
           CAST(j AS INTEGER) AS job_id,
           j * 100 + i AS event_id,
           ('0x' || substring(md5('proj0#' || j || '#' || i), 1, 8))::BIGINT % 1000
             AS user_id,
           (['appStart','appRunning','deviceInfo','custom','transaction'])
             [('0x' || substring(md5('proj0#' || j || '#' || i), 1, 8))::BIGINT % 5 + 1]
             AS report_type,
           ('0x' || substring(md5('proj0#' || j || '#' || i), 1, 8))::BIGINT % 10000
             AS value_cents
    FROM generate_series(0, 3) s(j), generate_series(0, 99) t(i)
    """,
    doc=(
        "Custom Python Data Source (Spark 4 pyspark.sql.datasource) "
        "simulating the reference's Unity Raw Data Export ingestion "
        "(A1/A2/A5): one InputPartition per exported file, rows "
        "md5-derived so the SOURCE ITSELF is oracle-verified — the "
        "DuckDB side regenerates identical bytes from the same seeds."
    ),
    tags=("pipeline", "source", "datasource"),
)
def p_unity_export_source(spark, sf_dir):
    from unity_to_bigquery_spark.sources.unity_export import register

    register(spark)
    return (
        spark.read.format("unity_export")
        .option("project_id", "proj0")
        .option("num_jobs", "4")
        .option("rows_per_job", "100")
        .load()
    )


@query(
    "p_versioned_time_travel",
    oracle="""
    SELECT 1 AS version,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS total2
    FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
    UNION ALL
    SELECT 2 AS version,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS total2
    FROM orders
    """,
    doc=(
        "Manifest-log table format round-trip (plans/versioned."
        "VersionedTable): append pre-1996 orders (v1), append the rest "
        "(v2), then time-travel-read v1 and latest — v1's aggregate must "
        "equal the source filtered the same way, v2's the full table. "
        "Commits are atomic (O_EXCL manifest publish), reads resolve one "
        "immutable file list, so a concurrent writer can never break a "
        "running scan — the lakehouse answer to the FileNotFound-mid-"
        "scan class that partition-overwrite parquet needs "
        "localCheckpoint discipline for."
    ),
    tags=("pipeline", "sink", "versioned"),
)
def p_versioned_time_travel(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1996-01-01 00:00:00").cast("timestamp")
    path = _tmp(f"versioned_orders_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    t = VersionedTable(spark, path)
    t.commit_append(orders.filter(F.col("o_orderdate") < cutoff))
    t.commit_append(orders.filter(F.col("o_orderdate") >= cutoff))

    def stats(df, version):
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
            ).alias("total2"),
        ).select(F.lit(version).alias("version"), "n", "total2")

    return stats(t.read(1), 1).unionByName(stats(t.read(), 2))


@query(
    "p_versioned_incremental_changes",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS total2
    FROM orders WHERE o_orderdate >= TIMESTAMP '1997-06-01 00:00:00'
    GROUP BY o_orderpriority
    """,
    doc=(
        "Incremental consumption off the manifest log (VersionedTable."
        "changes): two append commits, then a consumer that already "
        "processed v1 reads only the v2 delta — Iceberg incremental scan "
        "/ Delta streaming-source semantics as a batch API, the exactly-"
        "once continuation pattern of reference A12's continueFrom with "
        "the version number as the checkpoint."
    ),
    tags=("pipeline", "versioned", "incremental"),
)
def p_versioned_incremental_changes(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1997-06-01 00:00:00").cast("timestamp")
    path = _tmp(f"versioned_changes_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    t = VersionedTable(spark, path)
    t.commit_append(orders.filter(F.col("o_orderdate") < cutoff))
    t.commit_append(orders.filter(F.col("o_orderdate") >= cutoff))
    return (
        t.changes(since_version=1)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
            ).alias("total2"),
        )
    )


@query(
    "p_versioned_merge_upsert",
    oracle="""
    WITH upd AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2 AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 20 = 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_custkey, o_orderstatus, o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 1000 = 0
    ), merged AS (
      SELECT * FROM orders
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
      UNION ALL
      SELECT * FROM upd
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS total2
    FROM merged GROUP BY o_orderpriority
    """,
    doc=(
        "Row-level MERGE on the manifest-log table (VersionedTable."
        "merge_upsert): doubled-price updates replace their matched "
        "rows, shifted-key rows insert, untouched rows survive — and "
        "only files whose manifest key-range stats can contain a matched "
        "key are rewritten (two-phase find-touched/rewrite, the "
        "Delta/Iceberg MERGE shape). Final state must equal the oracle's "
        "anti-join+union formulation of upsert."
    ),
    tags=("pipeline", "versioned", "merge"),
)
def p_versioned_merge_upsert(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders")
    path = _tmp(f"versioned_merge_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    t = VersionedTable(spark, path)
    # two appends -> multiple files; key-range stats let the merge skip
    # any file whose range cannot contain a matched key
    t.commit_append(orders.filter(F.col("o_orderkey") % 2 == 0))
    t.commit_append(orders.filter(F.col("o_orderkey") % 2 == 1))
    upd = orders.filter(F.col("o_orderkey") % 20 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    ins = orders.filter(F.col("o_orderkey") % 1000 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(100000000)
    )
    t.merge_upsert(upd.unionByName(ins).select(*orders.columns), key="o_orderkey")
    return (
        t.read()
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
            ).alias("total2"),
        )
    )


@query(
    "p_versioned_delete_where",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS total2
    FROM orders WHERE o_orderkey % 7 <> 0
    GROUP BY o_orderpriority
    """,
    doc=(
        "Equality-delete commit (VersionedTable.commit_delete_where): "
        "the matched keys land in one small delete file, every data file "
        "stays untouched, and the merge-on-read scan anti-joins the "
        "broadcast key set — row deletion priced at one key-file write "
        "instead of a table rewrite. The surviving aggregate must equal "
        "the source with the keys filtered out."
    ),
    tags=("pipeline", "versioned", "delete"),
)
def p_versioned_delete_where(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders")
    path = _tmp(f"versioned_delete_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    t = VersionedTable(spark, path)
    t.commit_append(orders)
    t.commit_delete_where(
        orders.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey"),
        key="o_orderkey",
    )
    return (
        t.read()
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
            ).alias("total2"),
        )
    )


@query(
    "p_versioned_zorder_scan",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(l_quantity * 10000.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS qty4
    FROM lineitem WHERE l_partkey BETWEEN 100 AND 500
    GROUP BY l_returnflag
    """,
    doc=(
        "Z-order clustering + stats-pruned scan end-to-end "
        "(VersionedTable.cluster_by / read_pruned): lineitem rewritten "
        "with (l_partkey, l_suppkey) bucket bits interleaved, then a "
        "partkey-range read that skips every file whose manifest "
        "key-range cannot match before scanning, with the exact row "
        "filter still applied — the result must equal the plain filtered "
        "aggregate on the source."
    ),
    tags=("pipeline", "versioned", "zorder"),
)
def p_versioned_zorder_scan(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    li = load_table(spark, sf_dir, "lineitem")
    path = _tmp(f"versioned_zorder_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    t = VersionedTable(spark, path)
    t.commit_append(li)
    t.cluster_by(["l_partkey", "l_suppkey"], target_files=8)
    return (
        t.read_pruned("l_partkey", 100, 500)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("l_quantity") * 10000.0 + 0.5).cast("long")
            ).alias("qty4"),
        )
    )


@query(
    "p_continuous_aggregate",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_value6
    FROM events GROUP BY event_type
    """,
    doc=(
        "Continuous aggregate (plans/incremental_agg): events land in "
        "the source VersionedTable in three commits; after each commit "
        "the rollup refreshes from changes() only — no source rescan — "
        "merging per-key partials into the aggregate table with an "
        "atomic txn-stamped merge (exactly-once, replay-safe). The "
        "final rollup must equal a direct groupBy of all the data, "
        "which is what the oracle computes."
    ),
    tags=("pipeline", "versioned", "incremental", "aggregate"),
)
def p_continuous_aggregate(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.incremental_agg import ContinuousAggregate
    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    events = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    base = _tmp(f"contagg_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(base, ignore_errors=True)
    src = VersionedTable(spark, os.path.join(base, "src"))
    agg = ContinuousAggregate(
        spark, src, os.path.join(base, "agg"),
        key="event_type", measures={"sum_value6": "value"},
    )
    for i in range(3):
        src.commit_append(events.filter(F.col("event_id") % 3 == i))
        agg.refresh()
        agg.refresh()  # immediate re-run must be a no-op (txn idempotency)
    return agg.read().select("event_type", "n", "sum_value6")


@query(
    "p_continuous_aggregate_with_deletes",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_value6
    FROM events
    WHERE event_id % 7 <> 0 AND event_type <> 'error'
    GROUP BY event_type
    """,
    doc=(
        "Continuous aggregate maintained through DELETES (full CDC with "
        "retractions — VERDICT r3 #1, Delta CDF _change_type semantics): "
        "events land in three appends, each followed by an equality-"
        "delete commit (event_id % 7 = 0 — sequencing means each delete "
        "retracts only rows already committed), then a whole-key delete "
        "(event_type = 'error') that tombstones an aggregate row "
        "entirely. Every refresh folds changes_with_type() deltas with "
        "signed weights; the final rollup must equal a direct groupBy "
        "of the live snapshot, which the oracle computes from the "
        "equivalent WHERE clause."
    ),
    tags=("pipeline", "versioned", "incremental", "aggregate", "cdc"),
)
def p_continuous_aggregate_with_deletes(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.incremental_agg import ContinuousAggregate
    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    base = _tmp(f"contagg_del_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(base, ignore_errors=True)
    src = VersionedTable(spark, os.path.join(base, "src"))
    agg = ContinuousAggregate(
        spark, src, os.path.join(base, "agg"),
        key="event_type", measures={"sum_value6": "value"},
        handle_deletes=True,
    )
    del_keys = events.filter(F.col("event_id") % 7 == 0).select("event_id")
    for i in range(3):
        src.commit_append(events.filter(F.col("event_id") % 3 == i))
        agg.refresh()
        src.commit_delete_where(del_keys, "event_id")
        agg.refresh()
        agg.refresh()  # immediate re-run must be a no-op (txn idempotency)
    src.commit_delete_where(
        spark.createDataFrame([("error",)], "event_type STRING"), "event_type"
    )
    agg.refresh()
    return agg.read().select("event_type", "n", "sum_value6")


@query(
    "p_cdc_update_images",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_orderstatus AS v
      FROM orders WHERE o_orderkey <= 30000
    ), upd AS (
      SELECT k, v FROM base WHERE k % 10 = 0
    )
    SELECT k, v, 'update_preimage' AS _change_type,
           CAST(2 AS BIGINT) AS _commit_version
    FROM upd
    UNION ALL
    SELECT k, v || 'X', 'update_postimage', CAST(2 AS BIGINT) FROM upd
    UNION ALL
    SELECT k + 10000000, 'NEW', 'insert', CAST(2 AS BIGINT)
    FROM base WHERE k % 97 = 0
    """,
    doc=(
        "CDC update pre/post-images (Delta readChangeFeed vocabulary — "
        "VERDICT r4 missing #3): a keyed versioned table takes one "
        "merge_upsert that updates every k%10==0 row and inserts fresh "
        "keys; changes_with_updates('k') pairs each commit's delete+"
        "insert on the merge key into update_preimage/update_postimage "
        "rows and DROPS the equal-valued rewrite pairs merge_upsert "
        "emits for untouched rows in rewritten files — so the oracle is "
        "exactly the logical update set, with no self-join on the "
        "consumer side. One full-outer join on (commit, key) over the "
        "delta-sized feed."
    ),
    tags=("pipeline", "versioned", "cdc"),
)
def p_cdc_update_images(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    base = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 30000)
        .select(F.col("o_orderkey").alias("k"), F.col("o_orderstatus").alias("v"))
    )
    root = _tmp(f"cdcupd_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(root, ignore_errors=True)
    t = VersionedTable(spark, root)
    t.commit_append(base)  # v1
    updates = base.filter(F.col("k") % 10 == 0).select(
        "k", F.concat(F.col("v"), F.lit("X")).alias("v")
    )
    inserts = base.filter(F.col("k") % 97 == 0).select(
        (F.col("k") + F.lit(10_000_000)).alias("k"), F.lit("NEW").alias("v")
    )
    t.merge_upsert(updates.unionByName(inserts), "k")  # v2
    return t.changes_with_updates("k", since_version=1)


@query(
    "p_cdc_update_images_multi",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_orderstatus AS v
      FROM orders WHERE o_orderkey <= 30000
    )
    SELECT k, v AS v2, 'update_preimage' AS _change_type,
           CAST(2 AS BIGINT) AS _commit_version
    FROM base WHERE k % 10 = 0
    UNION ALL
    SELECT k, v || 'A', 'update_postimage', CAST(2 AS BIGINT)
    FROM base WHERE k % 10 = 0
    UNION ALL
    SELECT k, v || 'A', 'update_preimage', CAST(3 AS BIGINT)
    FROM base WHERE k % 20 = 0
    UNION ALL
    SELECT k, v || 'AB', 'update_postimage', CAST(3 AS BIGINT)
    FROM base WHERE k % 20 = 0
    UNION ALL
    SELECT k, v || 'AB', 'update_preimage', CAST(4 AS BIGINT)
    FROM base WHERE k % 40 = 0
    UNION ALL
    SELECT k, v || 'ABC', 'update_postimage', CAST(4 AS BIGINT)
    FROM base WHERE k % 40 = 0
    """,
    doc=(
        "CDC update images across a MULTI-commit window on the SAME "
        "keys (VERDICT r5 #7): three sequential merge_upserts update "
        "nested key subsets (k%10, k%20, k%40 — each a subset of the "
        "last), so every k%40 key carries THREE pre/post pairs in one "
        "changes_with_updates window, each pair's preimage being the "
        "prior commit's postimage. The oracle enumerates the exact "
        "per-commit pairs; any cross-commit bleed (pairing a delete "
        "from commit N with an insert from commit M) or a wrong "
        "preimage chain breaks the hash. Column aliased v2 to avoid "
        "colliding with p_cdc_update_images' result shape."
    ),
    tags=("pipeline", "versioned", "cdc"),
)
def p_cdc_update_images_multi(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    base = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 30000)
        .select(F.col("o_orderkey").alias("k"), F.col("o_orderstatus").alias("v"))
    )
    root = _tmp(f"cdcupdm_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(root, ignore_errors=True)
    t = VersionedTable(spark, root)
    t.commit_append(base)  # v1
    for mod, suffix in ((10, "A"), (20, "AB"), (40, "ABC")):  # v2, v3, v4
        t.merge_upsert(
            base.filter(F.col("k") % mod == 0).select(
                "k", F.concat(F.col("v"), F.lit(suffix)).alias("v")
            ),
            "k",
        )
    return t.changes_with_updates("k", since_version=1).withColumnRenamed("v", "v2")


@query(
    "p_file_lineage_metadata",
    oracle="""
    SELECT source,
           CAST(CEIL(COUNT(*) / 100.0) AS BIGINT) AS n_files,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM documents GROUP BY source
    """,
    doc=(
        "File lineage via the _metadata hidden column: documents are "
        "written partitioned by source with maxRecordsPerFile=100 (one "
        "writer task, so each source yields exactly ceil(n/100) "
        "files), read back, and per-source file counts recovered from "
        "_metadata.file_name — the engine-native lineage surface "
        "(generalizes the reference's filename bookkeeping, "
        "Unity_to_BigQuery.py:131-132/A6). The oracle derives the "
        "expected layout arithmetically from the source table."
    ),
    tags=("pipeline", "lineage", "metadata"),
)
def p_file_lineage_metadata(spark, sf_dir):
    import shutil

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    path = _tmp(f"flineage_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    (
        docs.coalesce(1)
        .write.option("maxRecordsPerFile", 100)
        .partitionBy("source")
        .parquet(path)
    )
    back = spark.read.parquet(path).select(
        "source", F.col("_metadata.file_name").alias("fname")
    )
    return back.groupBy("source").agg(
        F.countDistinct("fname").alias("n_files"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "p_dpp_pruned_join",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(o.o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS cents_total
    FROM orders o
    JOIN (SELECT DISTINCT o_orderpriority AS pri FROM orders
          WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) d
      ON o.o_orderpriority = d.pri
    GROUP BY o.o_orderpriority
    """,
    doc=(
        "Dynamic partition pruning: orders written partitioned by "
        "o_orderpriority, then joined to a filtered dim on the "
        "partition column. Catalyst injects the dim's build-side "
        "values as a runtime partition filter (dynamicpruning "
        "subquery reusing the broadcast exchange), so the fact scan "
        "reads 2/5 of the partitions — the lever that turns a 100 TB "
        "scan into a per-key read. Plan shape asserted in "
        "tests/test_plans.py (dynamicpruningexpression on the scan)."
    ),
    tags=("pipeline", "dpp", "scale"),
)
def p_dpp_pruned_join(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    path = _tmp(f"orders_dpp_{os.path.basename(sf_dir.rstrip('/'))}")
    orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        fact.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(F.col("o_orderpriority").alias("pri"))
        .distinct()
    )
    joined = fact.join(
        F.broadcast(dim), fact["o_orderpriority"] == dim["pri"]
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"))
        .cast("long")
        .alias("cents_total"),
    )


@query(
    "p_versioned_export_manifest",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS total2
    FROM orders GROUP BY o_orderstatus
    """,
    doc=(
        "Snapshot export for external engines (Delta GENERATE "
        "symlink_format_manifest analogue): commit orders to a "
        "VersionedTable, export the pinned file list, then scan "
        "EXACTLY the exported paths (not the table API) and "
        "aggregate — proving the export names the complete snapshot. "
        "A later commit must not change what the export reads "
        "(exercised here: a second commit lands after the export). "
        "DuckDB-side interop (duckdb reading the exported parquet "
        "paths directly) is asserted in tests/test_versioned.py."
    ),
    tags=("pipeline", "versioned", "export"),
)
def p_versioned_export_manifest(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders")
    path = _tmp(f"versioned_export_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    t = VersionedTable(spark, path)
    t.commit_append(orders)
    export = t.export_manifest()
    # a later commit must not affect what the export describes
    t.commit_append(orders.limit(7))
    with open(export) as fh:
        paths = [ln.strip() for ln in fh if ln.strip()]
    back = spark.read.parquet(*paths)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")).alias(
            "total2"
        ),
    )


@query(
    "p_versioned_partition_evolution",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS total2
    FROM orders GROUP BY o_orderpriority
    """,
    doc=(
        "Partition spec evolution end-to-end: commit pre-1996 orders "
        "under an o_orderstatus layout, evolve the spec to "
        "o_orderpriority (metadata-only), commit the rest under the "
        "new layout, then aggregate the MIXED-LAYOUT snapshot — must "
        "equal the source table exactly. Reads are layout-independent "
        "(explicit file lists + partition column stored in data "
        "files), which is why evolution needs no history rewrite."
    ),
    tags=("pipeline", "versioned", "evolution"),
)
def p_versioned_partition_evolution(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1996-01-01 00:00:00").cast("timestamp")
    path = _tmp(f"versioned_specevo_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    t = VersionedTable(spark, path, partition_col="o_orderstatus")
    t.commit_append(orders.filter(F.col("o_orderdate") < cutoff))
    t.set_partitioning("o_orderpriority")
    # a FRESH handle (no constructor hint) must pick the spec off the log
    t2 = VersionedTable(spark, path)
    t2.commit_append(orders.filter(F.col("o_orderdate") >= cutoff))
    return (
        t2.read()
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")).alias(
                "total2"
            ),
        )
    )


@query(
    "p_dq_expectations",
    oracle="""
    SELECT 'orders_pk_unique' AS check_name,
           CAST((SELECT COUNT(*) FROM
                  (SELECT o_orderkey FROM orders GROUP BY o_orderkey
                   HAVING COUNT(*) > 1)) AS BIGINT) AS n_violations
    UNION ALL
    SELECT 'orders_custkey_not_null',
           CAST((SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) AS BIGINT)
    UNION ALL
    SELECT 'orders_custkey_fk',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'orders_priority_accepted',
           CAST((SELECT COUNT(*) FROM orders
                 WHERE o_orderpriority NOT IN
                   ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'))
                AS BIGINT)
    UNION ALL
    SELECT 'lineitem_order_fk',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
    """,
    doc=(
        "Declarative data-quality expectations (dbt tests / Delta Live "
        "Tables expectations shape): primary-key uniqueness, NOT NULL, "
        "two referential-integrity checks (anti-join, never a row "
        "explode), and an accepted-values domain check — evaluated in "
        "one plan, one row of violation counts per check. The "
        "write-path complement is VersionedTable CHECK constraints "
        "(enforced at commit); this is the audit-the-existing-data "
        "side."
    ),
    tags=("pipeline", "quality", "expectations"),
)
def p_dq_expectations(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")

    pk = (
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
        .select(F.lit("orders_pk_unique").alias("check_name"), "n_violations")
    )
    nn = orders.filter(F.col("o_custkey").isNull()).agg(
        F.count(F.lit(1)).cast("long").alias("n_violations")
    ).select(F.lit("orders_custkey_not_null").alias("check_name"), "n_violations")
    fk1 = orders.join(
        customer, orders["o_custkey"] == customer["c_custkey"], "left_anti"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_violations")).select(
        F.lit("orders_custkey_fk").alias("check_name"), "n_violations"
    )
    accepted = orders.filter(
        ~F.col("o_orderpriority").isin(
            "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"
        )
    ).agg(F.count(F.lit(1)).cast("long").alias("n_violations")).select(
        F.lit("orders_priority_accepted").alias("check_name"), "n_violations"
    )
    fk2 = lineitem.join(
        orders, lineitem["l_orderkey"] == orders["o_orderkey"], "left_anti"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_violations")).select(
        F.lit("lineitem_order_fk").alias("check_name"), "n_violations"
    )
    return pk.unionByName(nn).unionByName(fk1).unionByName(accepted).unionByName(fk2)


@query(
    "p_versioned_positional_delete",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, n_chars,
             ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS pos
      FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_live,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
           CAST(MIN(doc_id) AS BIGINT) AS min_id
    FROM ranked WHERE pos % 7 <> 3
    """,
    doc=(
        "POSITIONAL-delete commit (VersionedTable."
        "commit_delete_positions — Iceberg v2 position deletes / the "
        "row half of Delta deletion vectors): (file, row_index) pairs "
        "land in one small delete file, every data file stays "
        "untouched, and the merge-on-read scan attaches Spark's "
        "_metadata.file_path/row_index and broadcast ANTI-JOINs the "
        "pairs. The table is written as ONE doc_id-sorted file so row "
        "positions are deterministic; deleting every pos%7==3 row must "
        "reproduce the rank-filtered source exactly. Targets are "
        "validated against the live manifest; compaction materializes "
        "and sheds the entries (unit-tested); the CDC feed emits the "
        "killed ordinals' rows as full-row retractions (round 8), so "
        "derived indexes fold them instead of rebuilding."
    ),
    tags=("pipeline", "versioned", "delete"),
)
def p_versioned_positional_delete(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    path = _tmp(f"versioned_posdel_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    t = VersionedTable(spark, path)
    t.commit_append(docs.orderBy("doc_id").coalesce(1))
    f0 = t.manifest()["files"][0]
    n = docs.count()
    pairs = spark.range(0, n).filter(F.col("id") % 7 == 3).select(
        F.lit(f0).alias("file"), F.col("id").alias("pos")
    )
    t.commit_delete_positions(pairs)
    return t.read().agg(
        F.count(F.lit(1)).cast("long").alias("n_live"),
        F.sum("doc_id").cast("long").alias("id_sum"),
        F.sum("n_chars").cast("long").alias("chars_sum"),
        F.min("doc_id").cast("long").alias("min_id"),
    )


@query(
    "p_profile_table",
    oracle="""
    SELECT 'l_orderkey' AS col_name, 'int' AS kind,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nulls,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
           CAST(MIN(l_orderkey) AS VARCHAR) AS min_repr,
           CAST(MAX(l_orderkey) AS VARCHAR) AS max_repr,
           CAST(SUM(l_orderkey) AS BIGINT) AS sum6
    FROM lineitem
    UNION ALL
    SELECT 'l_quantity', 'float',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT l_quantity) AS BIGINT),
           CAST(CAST(FLOOR(MIN(l_quantity) * 1000000 + 0.5) AS BIGINT) AS VARCHAR),
           CAST(CAST(FLOOR(MAX(l_quantity) * 1000000 + 0.5) AS BIGINT) AS VARCHAR),
           CAST(SUM(CAST(FLOOR(l_quantity * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag', 'str',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT l_returnflag) AS BIGINT),
           MIN(l_returnflag), MAX(l_returnflag),
           CAST(NULL AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'l_shipdate', 'ts',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT strftime(l_shipdate, '%Y-%m-%d %H:%M:%S'))
                AS BIGINT),
           MIN(strftime(l_shipdate, '%Y-%m-%d %H:%M:%S')),
           MAX(strftime(l_shipdate, '%Y-%m-%d %H:%M:%S')),
           CAST(NULL AS BIGINT)
    FROM lineitem
    """,
    doc=(
        "ONE-PASS table profiling (operators/profile.profile_table — "
        "the ANALYZE-TABLE/data-quality primitive): per-column row "
        "count, null count, EXACT distinct count, min/max, and a "
        "type-appropriate magnitude aggregate, for int/float/string/"
        "timestamp columns of lineitem, computed in TWO aggregation "
        "scans — one codegen pass for all plain stats, one per-gid "
        "Expand for all exact NDVs (N columns cost two table reads, "
        "never N; mixing the two in one agg keys the Expand's partial "
        "hash aggregate on every distinct column at once — measured "
        "8x slower). "
        "Doubles surface 1e-6 fixed-point, timestamps as formatted "
        "strings (rule-2 portability); the oracle recomputes every "
        "cell per column. At 100 TB swap the exact NDV for one-pass "
        "HLL sketches — the oracle-checkable exact form is the "
        "correctness anchor."
    ),
    tags=("pipeline", "profile", "aggregate"),
)
def p_profile_table(spark, sf_dir):
    from unity_to_bigquery_spark.operators.profile import profile_table

    li = load_table(spark, sf_dir, "lineitem")
    return profile_table(
        li,
        [
            ("l_orderkey", "int"),
            ("l_quantity", "float"),
            ("l_returnflag", "str"),
            ("l_shipdate", "ts"),
        ],
    )


@query(
    "p_versioned_tagged_release",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           CAST(SUM(n_chars) AS BIGINT) AS chars_sum
    FROM documents WHERE doc_id % 2 = 0
    """,
    doc=(
        "Iceberg-style TAGS with GC protection (VersionedTable."
        "create_tag/read_tag — round 8): the even-doc_id half of the "
        "corpus is committed and tagged 'release', then the table "
        "moves on (equality-deletes a slice, appends the odd half, "
        "compacts away the merge-on-read state) and vacuum(keep_last="
        "1) collects everything the RETAINED set doesn't reference — "
        "but the tagged manifest and every file it references are "
        "retained past any horizon, so the release pin still reads "
        "EXACTLY the pre-delete snapshot. The oracle recomputes the "
        "tagged subset from the raw table; a vacuum that collected a "
        "tagged file (the r7 pair-file bug class) or a tag that "
        "drifted to the live view flips the hash."
    ),
    tags=("pipeline", "versioned", "tags"),
)
def p_versioned_tagged_release(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    path = _tmp(f"versioned_tags_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    t = VersionedTable(spark, path)
    t.commit_append(docs.filter(F.col("doc_id") % 2 == 0))
    t.create_tag("release")
    t.commit_delete_where(
        docs.filter(F.col("doc_id") % 4 == 0).select("doc_id"), "doc_id"
    )
    t.commit_append(docs.filter(F.col("doc_id") % 2 == 1))
    t.compact()
    t.vacuum(keep_last=1)
    return t.read_tag("release").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("doc_id").cast("long").alias("id_sum"),
        F.sum("n_chars").cast("long").alias("chars_sum"),
    )


@query(
    "p_versioned_bloom_lookup",
    oracle="""
    SELECT doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           md5(text) AS text_md5
    FROM documents
    WHERE doc_id % 97 = 13
    ORDER BY doc_id LIMIT 50
    """,
    doc=(
        "Per-file BLOOM INDEX point lookups (VersionedTable."
        "bloom_index_cols — the Delta/Iceberg bloom-filter-index "
        "analogue, round 8): the documents table is committed as 8 "
        "hash-bucketed commits (a doc lives in exactly one file; "
        "doc_id min/max ranges fully OVERLAP, so range stats prune "
        "NOTHING and the 16-cap distinct-set index can't hold id "
        "cardinality — bloom is the only skipper that works here). "
        "Each file's write stages a base64 bloom bitmap in the "
        "manifest; every doc_id%97==13 key is then point-looked-up "
        "through read_pruned_point and the union must equal the plain "
        "filtered table — a false NEGATIVE (over-pruned file) drops "
        "rows and flips the hash. Pruning power is asserted in "
        "tests/test_versioned.py (~1 surviving file per probe at "
        "n=500/m=8192/k=3)."
    ),
    tags=("pipeline", "versioned", "index", "bloom"),
)
def p_versioned_bloom_lookup(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", F.md5("text").alias("text_md5")
    )
    path = _tmp(f"versioned_bloom_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    # SIZE THE BLOOM TO THE DATA (round 9, the CLAUDE.md-14b class):
    # fp ≈ (1 - e^(-k·n/m))^k, so a FIXED m saturates the moment
    # rows-per-file outgrows it (at ×100 corpus, m=65536 under 62k
    # rows/file gives fp≈0.8 — pruning dead, every lookup scans every
    # file). m ≳ 4·k·rows-per-file keeps fp ≲ 2% at any scale; floor
    # 65536 so small corpora keep the round-8 pinned behavior.
    n_docs = docs.count()
    k_hashes = 3
    bits = 65536
    while bits < 4 * k_hashes * (n_docs // 8 + 1):
        bits <<= 1
    t = VersionedTable(spark, path, bloom_index_cols=("doc_id",),
                       bloom_bits=bits, bloom_hashes=k_hashes)
    for b in range(8):  # hash-bucketed: ranges overlap, blooms don't
        t.commit_append(docs.filter(F.col("doc_id") % 8 == b).coalesce(1))
    # BOUNDED lookup set (first 50 keys): the demo's cost must track
    # the lookup count, not the corpus — each key is an independent
    # point lookup in production
    keys = [r.doc_id for r in docs.filter(F.col("doc_id") % 97 == 13)
            .select("doc_id").orderBy("doc_id").limit(50).collect()]
    out = None
    for k in keys:
        hit = t.read_pruned_point("doc_id", k)
        out = hit if out is None else out.unionByName(hit)
    return out.select("doc_id", F.col("n_chars").cast("long"), "text_md5")


@query(
    "p_versioned_partition_spec",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_value6
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
      AND ts <  TIMESTAMP '2024-01-16 00:00:00'
      AND event_type = 'click'
    """,
    doc=(
        "Hidden multi-column TRANSFORM partitioning (VERDICT r8 #2 — "
        "Iceberg-style specs, plans/versioned.parse_partition_spec): "
        "events land first under a legacy single-column spec, the spec "
        "then EVOLVES metadata-only to (day(ts), bucket(8, event_type)), "
        "and the rest lands under the two-dimension layout. A point "
        "lookup for one (UTC day, event_type) tuple names only SOURCE "
        "columns — the day() epoch-day and crc32-bucket transforms are "
        "applied driver-side against the per-file part:<field> manifest "
        "stats, files written under the OLD spec are conservatively "
        "kept, and the exact row filters (TZ-free unix-micros day range) "
        "run regardless, so the pruned scan equals the plain filtered "
        "aggregate. The query asserts files were actually skipped — "
        "pruning is gated, not assumed."
    ),
    tags=("pipeline", "versioned", "partitioning"),
)
def p_versioned_partition_spec(spark, sf_dir):
    import datetime as dt
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    path = _tmp(f"versioned_pspec_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    t = VersionedTable(spark, path, partition_col="event_type")
    t.commit_append(events.filter(F.col("event_id") % 3 == 0))
    t.set_partition_spec(["day(ts)", "bucket(8, event_type)"])
    t.commit_append(events.filter(F.col("event_id") % 3 == 1))
    t.commit_append(events.filter(F.col("event_id") % 3 == 2))
    filt = {"ts": dt.date(2024, 1, 15), "event_type": "click"}
    _, skipped = t.prune_files_parts(filt)
    if skipped == 0:
        raise RuntimeError(
            "hidden-partition pruning skipped nothing — the transform "
            "spec layout or part: stats are broken"
        )
    return t.read_pruned_parts(filt).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(
            F.floor(F.col("value") * 1000000.0 + 0.5).cast("long")
        ).alias("sum_value6"),
    )


@query(
    "p_versioned_wap_publish",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS total2
    FROM orders WHERE o_orderkey % 13 <> 0
    GROUP BY o_orderpriority
    """,
    doc=(
        "Write-audit-publish (VERDICT r8 #5 — VersionedTable branches): "
        "orders land in two commits on an AUDIT BRANCH (invisible to "
        "main), the audit step equality-deletes the rows failing a "
        "quality rule on the branch, and publish_branch lands the whole "
        "audited state as ONE atomic main commit (fast-forward: files, "
        "merge-on-read deletes, and sequencing copied verbatim). Main "
        "must read exactly the direct-commit-of-clean-rows result — "
        "which is what the oracle computes straight off the source. The "
        "query asserts main stayed empty until the publish."
    ),
    tags=("pipeline", "versioned", "branch", "wap"),
)
def p_versioned_wap_publish(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders")
    path = _tmp(f"versioned_wap_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    t = VersionedTable(spark, path)
    t.create_branch("ingest")
    b = t.branch("ingest")
    b.commit_append(orders.filter(F.col("o_orderkey") % 2 == 0))
    b.commit_append(orders.filter(F.col("o_orderkey") % 2 == 1))
    # AUDIT on the branch: quarantine rows failing the quality rule
    b.commit_delete_where(
        b.read().filter(F.col("o_orderkey") % 13 == 0).select("o_orderkey"),
        key="o_orderkey",
    )
    if t.latest_version() != 0:
        raise RuntimeError("branch writes leaked into main before publish")
    t.publish_branch("ingest")
    return (
        t.read()
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
            ).alias("total2"),
        )
    )


@query(
    "p_versioned_wap_rebase",
    oracle="""
    WITH audited AS (
      SELECT o_orderpriority, o_totalprice
      FROM orders WHERE o_orderkey % 13 <> 0
    ), racer AS (
      SELECT '9-RACER' AS o_orderpriority, o_totalprice
      FROM orders WHERE o_orderkey % 50 = 0
    ), final AS (
      SELECT * FROM audited UNION ALL SELECT * FROM racer
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS total2
    FROM final GROUP BY o_orderpriority
    """,
    doc=(
        "WAP REBASE publish (round 12 — the multi-writer WAP shape the "
        "pre-r12 code refused wholesale): while an audit branch holds "
        "the ingested rows PLUS a quality equality-delete, main keeps "
        "ingesting (a disjoint-key append lands between the fork and "
        "the publish). publish_branch detects the pure-append "
        "interleaving, proves the audit delete's keys can't hit the "
        "interleaved file (manifest stats), and lands the branch's net "
        "effect in ONE commit — the audited state AND the concurrent "
        "ingest both survive, asserted in-query (main moved mid-audit; "
        "no ConcurrentWriteError; final state ≡ DuckDB computing both "
        "writers' effects)."
    ),
    tags=("pipeline", "versioned", "branch", "wap", "occ"),
)
def p_versioned_wap_rebase(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders")
    path = _tmp(f"versioned_wapr_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    t = VersionedTable(spark, path)
    t.commit_append(orders.limit(0))  # typed empty main at v1
    t.create_branch("ingest")
    b = t.branch("ingest")
    b.commit_append(orders.filter(F.col("o_orderkey") % 2 == 0))
    b.commit_append(orders.filter(F.col("o_orderkey") % 2 == 1))
    b.commit_delete_where(
        b.read().filter(F.col("o_orderkey") % 13 == 0).select("o_orderkey"),
        key="o_orderkey",
    )
    # main keeps ingesting WHILE the audit holds the branch: a
    # disjoint-key append moves main past the fork point
    racer = (
        orders.filter(F.col("o_orderkey") % 50 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(100000000))
        .withColumn("o_orderpriority", F.lit("9-RACER"))
    )
    t.commit_append(racer)
    v_moved = t.latest_version()
    t.publish_branch("ingest")  # pre-r12: ConcurrentWriteError here
    if t.latest_version() != v_moved + 1 or t.manifest()["op"] != "publish(ingest)":
        raise RuntimeError("publish did not rebase onto the moved main")
    return (
        t.read()
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
            ).alias("total2"),
        )
    )


@query(
    "p_versioned_partition_overwrite",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value *
             CASE WHEN event_type = 'click'
                    AND ts >= TIMESTAMP '2024-01-15 00:00:00'
                    AND ts <  TIMESTAMP '2024-01-16 00:00:00'
                  THEN 2.0 ELSE 1.0 END
             * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value6
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-14 00:00:00'
      AND ts <  TIMESTAMP '2024-01-17 00:00:00'
    GROUP BY event_type
    """,
    doc=(
        "Partition-TUPLE overwrite + day-range pruned read on a hidden "
        "transform spec (round 9 — the INSERT OVERWRITE PARTITION shape "
        "for (day(ts), bucket(8, event_type)) layouts): events land "
        "under the two-dimension spec, ONE (UTC day, type) tuple is "
        "atomically replaced with corrected rows (values doubled) via "
        "commit_replace_parts — staged rows are VALIDATED to stay "
        "inside the replaced tuple, matching files drop by their "
        "recorded partition stats, everything else is carried "
        "byte-identical — and the Jan 14–16 day-range aggregate is "
        "served through read_pruned_date_range (numeric epoch-day "
        "file skipping + the exact TZ-free row filter). The oracle "
        "recomputes the corrected aggregate straight off the source."
    ),
    tags=("pipeline", "versioned", "partitioning", "overwrite"),
)
def p_versioned_partition_overwrite(spark, sf_dir):
    import datetime as dt
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    path = _tmp(f"versioned_pover_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    t = VersionedTable(
        spark, path, partition_spec=["day(ts)", "bucket(8, event_type)"]
    )
    t.commit_append(events)
    day = dt.date(2024, 1, 15)
    corrected = t.read_pruned_parts({"ts": day, "event_type": "click"}).withColumn(
        "value", F.col("value") * F.lit(2.0)
    )
    t.commit_replace_parts(
        corrected.select(*events.columns), {"ts": day, "event_type": "click"}
    )
    return (
        t.read_pruned_date_range("ts", dt.date(2024, 1, 14), dt.date(2024, 1, 16))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("value") * 1000000.0 + 0.5).cast("long")
            ).alias("sum_value6"),
        )
    )


@query(
    "p_versioned_snapshot_count",
    oracle="""
    SELECT 'after_evens' AS stage,
           CAST(COUNT(*) AS BIGINT) AS n FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT 'all', CAST(COUNT(*) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'after_delete_compact', CAST(COUNT(*) AS BIGINT)
    FROM orders WHERE o_orderkey % 5 <> 0
    UNION ALL
    SELECT 'min_key', CAST(MIN(o_orderkey) AS BIGINT)
    FROM orders WHERE o_orderkey % 5 <> 0
    UNION ALL
    SELECT 'max_key', CAST(MAX(o_orderkey) AS BIGINT)
    FROM orders WHERE o_orderkey % 5 <> 0
    UNION ALL
    SELECT 'after_eqdel', CAST(COUNT(*) AS BIGINT)
    FROM orders WHERE o_orderkey % 5 <> 0
    UNION ALL
    SELECT 'after_posdel', CAST(COUNT(*) AS BIGINT) FROM (
      SELECT ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS pos
      FROM orders WHERE o_orderkey % 5 <> 0
    ) WHERE pos % 7 <> 3
    """,
    doc=(
        "Metadata-only COUNT(*) + MIN/MAX (rounds 9-10 — "
        "VersionedTable.snapshot_rows / snapshot_minmax, the Delta/"
        "Iceberg stats answers): per-file footer row counts recorded "
        "at write time sum to the snapshot count with ZERO data IO, "
        "exact across appends, time travel, and compaction; footer "
        "ranges fold to exact MIN/MAX on a delete-free snapshot. "
        "Round 10 closes the positional-delete refusal (VERDICT r9 "
        "#3): a pos-delete's effect is exactly known from metadata — "
        "each live (file, pos) pair removes one row — so COUNT(*) "
        "still answers scan-free under live pos-deletes; only "
        "MIN/MAX under any delete (which could kill the extreme row) "
        "genuinely refuses. Round 11 closes the EQUALITY-delete "
        "refusal too (VERDICT r10 #6): commit_delete_where captures "
        "its exact per-file retraction counts (one pruned delete-sized "
        "job), so COUNT(*) answers scan-free under live eq-deletes; "
        "only the eq+pos COMBINATION still refuses (double-subtract "
        "hazard). The query ASSERTS the metadata path answered at "
        "every answerable stage and refused at every unanswerable one "
        "— a scan-derived number can't fake it."
    ),
    tags=("pipeline", "versioned", "stats"),
)
def p_versioned_snapshot_count(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders")
    path = _tmp(f"versioned_count_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    t = VersionedTable(spark, path)
    t.commit_append(orders.filter(F.col("o_orderkey") % 2 == 0))
    n_evens = t.snapshot_rows()
    t.commit_append(orders.filter(F.col("o_orderkey") % 2 == 1))
    n_all = t.snapshot_rows()
    t.commit_delete_where(
        orders.filter(F.col("o_orderkey") % 5 == 0).select("o_orderkey"),
        key="o_orderkey",
    )
    n_eqdel = t.snapshot_rows()  # r11: exact from captured row_counts
    if n_eqdel is None:
        raise RuntimeError(
            "snapshot_rows refused under eq-deletes despite row_counts (r11)"
        )
    t.compact()
    n_after = t.snapshot_rows()
    mm = t.snapshot_minmax("o_orderkey")
    if mm is None:
        raise RuntimeError("metadata-only minmax unavailable on a clean snapshot")
    # pos-delete every pos%7==3 ordinal of the compacted single file:
    # the count must stay metadata-answerable (pairs are exactly known
    # regardless of row order), minmax must refuse (the extreme row
    # could be among the killed)
    f0 = t.manifest()["files"][0]
    pairs = spark.range(0, int(n_after)).filter(F.col("id") % 7 == 3).select(
        F.lit(f0).alias("file"), F.col("id").alias("pos")
    )
    t.commit_delete_positions(pairs)
    n_posdel = t.snapshot_rows()
    if n_posdel is None:
        raise RuntimeError("snapshot_rows refused under pos-deletes (round 10)")
    if t.snapshot_minmax("o_orderkey") is not None:
        raise RuntimeError("snapshot_minmax answered under live deletes")
    # refusal discipline: eq + pos deletes BOTH live cannot be answered
    # exactly from metadata (double-subtract hazard) — must refuse
    t.commit_delete_where(
        orders.limit(1).select("o_orderkey"), key="o_orderkey"
    )
    if t.snapshot_rows() is not None:
        raise RuntimeError(
            "snapshot_rows answered with eq AND pos deletes both live"
        )
    if None in (n_evens, n_all, n_after):
        raise RuntimeError("metadata-only count unavailable on a clean snapshot")
    return spark.createDataFrame(
        [
            ("after_evens", int(n_evens)),
            ("all", int(n_all)),
            ("after_delete_compact", int(n_after)),
            ("min_key", int(mm[0])),
            ("max_key", int(mm[1])),
            ("after_eqdel", int(n_eqdel)),
            ("after_posdel", int(n_posdel)),
        ],
        "stage STRING, n BIGINT",
    )


@query(
    "p_versioned_merge_evolution",
    oracle="""
    WITH merged AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 3 = 0 THEN 'M'
                  ELSE o_orderstatus END AS status,
             CASE WHEN o_orderkey % 3 = 0 THEN LENGTH(o_orderpriority)
                  ELSE NULL END AS priority_len
      FROM orders
    )
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN priority_len IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null,
           CAST(COALESCE(SUM(priority_len), 0) AS BIGINT) AS sum_plen
    FROM merged GROUP BY status
    """,
    doc=(
        "MERGE with additive schema evolution in ONE commit (round 10, "
        "VERDICT r9 #7 — Delta mergeSchema-on-MERGE semantics): the "
        "merge source carries a NEW column; matched rows are replaced "
        "with it populated, unmatched existing rows read NULL through "
        "the widened manifest schema with their data files untouched "
        "(only key-range-pruned files rewrite — the 100 TB property), "
        "and the commit atomically records the widened logical schema. "
        "The oracle reconstructs the post-merge state with a CASE "
        "expression over the source table."
    ),
    tags=("pipeline", "versioned", "merge", "schema-evolution"),
)
def p_versioned_merge_evolution(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders")
    path = _tmp(f"versioned_mergevo_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    t = VersionedTable(spark, path)
    t.commit_append(orders.select("o_orderkey", "o_orderstatus"))
    src = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        F.lit("M").alias("o_orderstatus"),
        F.length("o_orderpriority").cast("int").alias("priority_len"),
    )
    t.merge_upsert(src, "o_orderkey", merge_schema=True)
    return (
        t.read()
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(F.col("priority_len").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_null"),
            F.coalesce(F.sum("priority_len"), F.lit(0)).cast("long").alias(
                "sum_plen"
            ),
        )
    )


@query(
    "p_versioned_manifest_checkpoint",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_value6
    FROM events WHERE event_type <> 'click'
    GROUP BY event_type
    UNION ALL
    SELECT '__v3_all_types',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
    FROM events WHERE event_id % 5 <= 2
    """,
    doc=(
        "DELTA-encoded manifest log with parquet CHECKPOINTS (round "
        "10, VERDICT r9 #1 — the Delta-checkpoint/Iceberg-manifest-"
        "list encoding): with manifest_inline_max=0 every commit "
        "writes an O(delta) JSON (files_add/files_remove only) and "
        "every 3rd delta materializes a parquet checkpoint of the "
        "full file state; reads anchor on the checkpoint and fold "
        "deltas. The query commits 5 append slices + an equality "
        "delete, ASSERTS the on-disk encoding (no inline file list, "
        "checkpoint present), and must reproduce both the final "
        "merge-on-read state and a TIME-TRAVEL aggregate across the "
        "checkpoint boundary. ×100 file-count smoke: "
        "tools/manifest_scale_smoke.py (50k files: commit 54 ms vs "
        "456 ms inline, cached plan 0.4 ms vs 124 ms, log 6 MB vs "
        "38 MB)."
    ),
    tags=("pipeline", "versioned", "manifest", "scale"),
)
def p_versioned_manifest_checkpoint(spark, sf_dir):
    import json as _json
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    path = _tmp(f"versioned_mckpt_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    t = VersionedTable(
        spark, path, manifest_inline_max=0, manifest_checkpoint_every=3
    )
    for i in range(5):
        t.commit_append(events.filter(F.col("event_id") % 5 == i))
    t.commit_delete_where(
        events.filter(F.col("event_type") == "click").select("event_id"),
        key="event_id",
    )
    # assert the on-disk encoding is really delta + checkpoint
    mdir = os.path.join(path, "_manifests")
    with open(os.path.join(mdir, "v00000006.json")) as fh:
        mj = _json.load(fh)
    if "files" in mj or "files_add" not in mj:
        raise RuntimeError("manifest v6 is not delta-encoded")
    if not any(n.startswith("ckpt-") for n in os.listdir(mdir)):
        raise RuntimeError("no parquet checkpoint materialized")
    final = (
        t.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.floor(F.col("value") * 1000000.0 + 0.5).cast("long")
            ).cast("long").alias("sum_value6"),
        )
    )
    # time travel across the checkpoint boundary (v3 = slices 0..2)
    v3 = t.read(3).agg(
        F.lit("__v3_all_types").alias("event_type"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.floor(F.col("value") * 1000000.0 + 0.5).cast("long")
        ).cast("long").alias("sum_value6"),
    )
    return final.unionByName(v3)


@query(
    "p_versioned_rename_evolution",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 1000000 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_rev6,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key
    FROM orders WHERE o_totalprice > 100000
    """,
    doc=(
        "COLUMN RENAME + DROP evolution via field-ID mapping (round "
        "10, VERDICT r9 #2 — Iceberg column-mapping semantics): "
        "rename_column/drop_column are METADATA-ONLY commits (the "
        "query asserts the file list is untouched); parquet files "
        "keep immutable physical names and reads select phys->logical "
        "aliases from the mapping at the read version, so a filtered "
        "read on the NEW name spans files written before AND after "
        "the rename, the dropped column costs zero IO (never "
        "requested from parquet), and time travel to a pre-rename "
        "version still reads the old names (asserted in-query). The "
        "oracle computes the same filtered aggregate off the source "
        "under the original names."
    ),
    tags=("pipeline", "versioned", "schema-evolution", "rename"),
)
def p_versioned_rename_evolution(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders")
    path = _tmp(f"versioned_rename_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    t = VersionedTable(spark, path)
    t.commit_append(
        orders.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice", "o_orderstatus"
        )
    )
    files_before = list(t.manifest()["files"])
    t.rename_column("o_totalprice", "revenue")
    t.drop_column("o_orderstatus")
    if t.manifest()["files"] != files_before:
        raise RuntimeError("rename/drop rewrote data files")
    # post-evolution ingest under the NEW logical names
    t.commit_append(
        orders.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", F.col("o_totalprice").alias("revenue")
        )
    )
    if t.read(1).columns != ["o_orderkey", "o_totalprice", "o_orderstatus"]:
        raise RuntimeError("time travel lost the pre-rename names")
    if t.read().columns != ["o_orderkey", "revenue"]:
        raise RuntimeError("live schema did not evolve")
    return (
        t.read()
        .filter(F.col("revenue") > 100000.0)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.floor(F.col("revenue") * 1000000.0 + 0.5).cast("long")
            ).cast("long").alias("sum_rev6"),
            F.min("o_orderkey").cast("long").alias("min_key"),
        )
    )


@query(
    "p_versioned_row_lineage",
    oracle="""
    WITH src AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS pos
      FROM documents
    ),
    live AS (
      SELECT doc_id, lang FROM src
      WHERE pos % 11 <> 4 AND lang <> 'de'
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM live GROUP BY lang
    """,
    doc=(
        "ROW LINEAGE over a KEYLESS table (round 10, VERDICT r9 #5 — "
        "Iceberg-v3 row lineage / Delta row tracking): stable __row_id "
        "ids are minted at COMMIT time in the manifest (per-file base "
        "+ parquet row index — no write-path coordination; rewrites "
        "materialize the column), so changes_final_state(__row_id) "
        "net-folds a window over a table with NO declared key. The "
        "query ingests documents keyless (one sorted file), pos-"
        "deletes every 11th ordinal, equality-deletes a language, "
        "compacts, then maintains a DERIVED copy purely from the "
        "id-keyed fold — asserting in-query that the derived state "
        "equals the live snapshot before aggregating it. The oracle "
        "replays the same ordinal+predicate deletes in SQL."
    ),
    tags=("pipeline", "versioned", "lineage", "cdc"),
)
def p_versioned_row_lineage(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    path = _tmp(f"versioned_lineage_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    t = VersionedTable(spark, path, row_lineage=True)
    rid = VersionedTable.ROW_ID_COL
    # derived state maintained ONLY via the id-keyed fold, page by page
    state = None  # DataFrame of (rid, doc_id, lang)
    last = 0

    def refresh():
        nonlocal state, last
        now = t.latest_version()
        delta = t.changes_final_state(rid, last, now)
        ups = delta.filter(F.col("_change_type") == "upsert").select(
            rid, "doc_id", "lang"
        )
        if state is None:
            state = ups
        else:
            dead = delta.select(rid)
            state = state.join(dead, rid, "left_anti").unionByName(ups)
        state = state.localCheckpoint(eager=True)
        last = now

    t.commit_append(docs.orderBy("doc_id").coalesce(1))
    refresh()
    f0 = t.manifest()["files"][0]
    n = docs.count()
    t.commit_delete_positions(
        spark.range(0, n).filter(F.col("id") % 11 == 4).select(
            F.lit(f0).alias("file"), F.col("id").alias("pos")
        )
    )
    refresh()
    t.commit_delete_where(
        docs.filter(F.col("lang") == "de").select("doc_id"), key="doc_id"
    )
    refresh()
    t.compact()
    refresh()
    # the derived copy must equal the live snapshot (id-exact)
    live = t.read_with_lineage().select(rid, "doc_id", "lang")
    if state.exceptAll(live).count() or live.exceptAll(state).count():
        raise RuntimeError("id-folded derived state diverged from snapshot")
    return state.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


@query(
    "p_incremental_join_view",
    oracle="""
    SELECT o_orderkey AS ok, c_custkey AS ck,
           CASE WHEN c_custkey % 10 = 0 THEN 'VIP' ELSE c_mktsegment END
               AS segment,
           CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS price_c
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderkey % 7 <> 0 AND c_custkey % 13 <> 0
    """,
    doc=(
        "Incremental JOIN-view maintenance (plans/incremental_join — "
        "round 10): a materialized orders ⋈ customer view maintained "
        "through a two-sided mutation gauntlet — staged order appends, "
        "a customer merge_upsert (segment promotion), an order "
        "equality-delete, and a customer delete — each followed by a "
        "refresh that folds ONLY that side's net CDC delta "
        "(changes_final_state) re-joined against the other side pinned "
        "at its own txn bookmark, committed as one atomic key-scoped "
        "replace per side. The final view must equal a direct join of "
        "the two live snapshots, which the oracle computes from the "
        "equivalent WHERE/CASE clauses. The immediate refresh re-runs "
        "assert txn idempotency (multi-source exactly-once)."
    ),
    tags=("pipeline", "versioned", "incremental", "join", "cdc"),
)
def p_incremental_join_view(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.incremental_join import (
        IncrementalJoinView,
    )
    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5))
        .cast("long")
        .alias("price_c"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    base = _tmp(f"ivjoin_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(base, ignore_errors=True)
    a = VersionedTable(spark, os.path.join(base, "orders"))
    b = VersionedTable(spark, os.path.join(base, "cust"))
    view = IncrementalJoinView(
        spark, a, "o_orderkey", b, "c_custkey",
        on=("o_custkey", "c_custkey"), root=os.path.join(base, "view"),
    )
    a.commit_append(orders.filter(F.col("o_orderkey") % 3 == 0))
    b.commit_append(cust)
    view.refresh()
    a.commit_append(orders.filter(F.col("o_orderkey") % 3 == 1))
    view.refresh()
    b.merge_upsert(
        cust.filter(F.col("c_custkey") % 10 == 0).select(
            "c_custkey", F.lit("VIP").alias("c_mktsegment")
        ),
        "c_custkey",
    )
    view.refresh()
    a.commit_append(orders.filter(F.col("o_orderkey") % 3 == 2))
    a.commit_delete_where(
        orders.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey"),
        "o_orderkey",
    )
    view.refresh()
    b.commit_delete_where(
        cust.filter(F.col("c_custkey") % 13 == 0).select("c_custkey"),
        "c_custkey",
    )
    view.refresh()
    view.refresh()  # immediate re-run must be a no-op (txn idempotency)
    return view.read().select(
        F.col("o_orderkey").alias("ok"),
        F.col("c_custkey").alias("ck"),
        F.col("c_mktsegment").alias("segment"),
        F.col("price_c"),
    )


@query(
    "p_catalog_multi_table_txn",
    oracle="""
    SELECT CASE WHEN c_custkey % 10 = 0 THEN 'VIP' ELSE c_mktsegment END
               AS segment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS rev_c
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_custkey % 13 <> 0
    GROUP BY 1
    """,
    doc=(
        "MULTI-TABLE TRANSACTIONAL CATALOG (plans/table_catalog — "
        "round 10, Nessie/Iceberg-REST-catalog semantics): three "
        "transactions against an orders+customer catalog — atomic "
        "two-table ingest; an atomic cross-table delete (customers "
        "%13==0 AND their orders, one commit point); and a CRASHED "
        "transaction (intent written, only one table's branch "
        "published) whose torn physical state the query proves "
        "invisible through the catalog (both tables still read the "
        "pre-txn pins — asserted in-query) before recover() completes "
        "it. The final catalog-pinned cross-table join must equal the "
        "oracle's reconstruction of all three transactions applied."
    ),
    tags=("pipeline", "versioned", "catalog", "transaction"),
)
def p_catalog_multi_table_txn(spark, sf_dir):
    import json
    import shutil

    from unity_to_bigquery_spark.plans.table_catalog import TableCatalog

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    base = _tmp(f"catalog_txn_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(base, ignore_errors=True)
    cat = TableCatalog(spark, base)
    cat.create_table("orders_t")
    cat.create_table("cust_t")
    # txn 1: atomic two-table ingest (orders %3 in {0,1} + all customers)
    tx = cat.transaction()
    tx.write("orders_t").commit_append(
        orders.filter(F.col("o_orderkey") % 3 < 2)
    )
    tx.write("cust_t").commit_append(cust)
    tx.commit()
    # txn 2: atomic cross-table delete — customers %13==0 AND their orders
    dead = cust.filter(F.col("c_custkey") % 13 == 0).select("c_custkey")
    tx2 = cat.transaction()
    tx2.write("orders_t").commit_delete_where(
        dead.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey"
    )
    tx2.write("cust_t").commit_delete_where(dead, "c_custkey")
    v2 = tx2.commit()
    # txn 3, CRASHED mid-publish: appends the %3==2 orders AND promotes
    # %10==0 customers to VIP — intent + ONE publish land, then "crash"
    tx3 = cat.transaction()
    tx3.write("orders_t").commit_append(
        orders.filter(F.col("o_orderkey") % 3 == 2)
    )
    tx3.write("cust_t").merge_upsert(
        cust.filter(
            (F.col("c_custkey") % 10 == 0) & (F.col("c_custkey") % 13 != 0)
        ).select("c_custkey", F.lit("VIP").alias("c_mktsegment")),
        "c_custkey",
    )
    with open(cat._intent_path(tx3.txn_id), "x") as fh:
        json.dump({"txn_id": tx3.txn_id, "tables": tx3._staged}, fh)
    cat.table("orders_t").publish_branch(tx3._staged["orders_t"])
    # torn physical state must be INVISIBLE through the catalog
    if cat.entry()["version"] != v2:
        raise RuntimeError("catalog moved past the crashed transaction")
    n_orders = cat.read("orders_t").count()
    n_direct = cat.table("orders_t").read().count()
    if n_orders >= n_direct:
        raise RuntimeError(
            "crash simulation did not tear the physical state "
            f"(catalog {n_orders} vs direct {n_direct})"
        )
    cat.recover()
    o = cat.read("orders_t")
    c = cat.read("cust_t")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("long")
            ).alias("rev_c"),
        )
        .select(F.col("c_mktsegment").alias("segment"), "n", "rev_c")
    )


@query(
    "p_ivm_pipeline",
    oracle="""
    SELECT CASE WHEN c_custkey % 10 = 0 THEN 'VIP' ELSE c_mktsegment END
               AS segment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 1000000.0 + 0.5) AS BIGINT))
                AS BIGINT) AS rev6,
           CAST(MAX(CAST(FLOOR(o_totalprice * 1000000.0 + 0.5) AS BIGINT))
                AS BIGINT) AS hi6
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderkey % 7 <> 0 AND c_custkey % 13 <> 0
    GROUP BY 1
    """,
    doc=(
        "TWO-LEVEL IVM PIPELINE (round 10 — derived state over derived "
        "state): an IncrementalJoinView materializes orders ⋈ customer "
        "from both sides' CDC, and a ContinuousAggregate(handle_deletes) "
        "maintains a per-segment revenue rollup from the VIEW'S OWN "
        "change feed — the view's key-scoped replace commits emit typed "
        "retractions, so segment promotions and deletes on either BASE "
        "table flow through two maintenance hops untouched by any "
        "rescan. Round 11: the second hop also carries a MAX measure "
        "(hi6) — the delete wave retracts segment maxima, exercising "
        "the non-invertible key-scoped rescan over the VIEW. The final "
        "rollup must equal a direct groupBy of the joined live "
        "snapshots (the oracle). Every hop is exactly-once (txn "
        "bookmarks at both levels; no-op re-runs asserted by the "
        "repeated refresh calls)."
    ),
    tags=("pipeline", "versioned", "incremental", "join", "aggregate", "cdc"),
)
def p_ivm_pipeline(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.incremental_agg import (
        ContinuousAggregate,
    )
    from unity_to_bigquery_spark.plans.incremental_join import (
        IncrementalJoinView,
    )
    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    base = _tmp(f"ivm_pipe_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(base, ignore_errors=True)
    a = VersionedTable(spark, os.path.join(base, "orders"))
    b = VersionedTable(spark, os.path.join(base, "cust"))
    view = IncrementalJoinView(
        spark, a, "o_orderkey", b, "c_custkey",
        on=("o_custkey", "c_custkey"), root=os.path.join(base, "view"),
    )
    roll = ContinuousAggregate(
        spark, view.view, os.path.join(base, "rollup"),
        key="c_mktsegment", measures={"rev6": "o_totalprice"},
        max_measures={"hi6": "o_totalprice"},
        handle_deletes=True,
    )

    def fold():
        view.refresh()
        roll.refresh()
        roll.refresh()  # no-op replay at the second hop

    a.commit_append(orders.filter(F.col("o_orderkey") % 3 == 0))
    b.commit_append(cust)
    fold()
    a.commit_append(orders.filter(F.col("o_orderkey") % 3 > 0))
    b.merge_upsert(
        cust.filter(F.col("c_custkey") % 10 == 0).select(
            "c_custkey", F.lit("VIP").alias("c_mktsegment")
        ),
        "c_custkey",
    )
    fold()
    a.commit_delete_where(
        orders.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey"),
        "o_orderkey",
    )
    b.commit_delete_where(
        cust.filter(F.col("c_custkey") % 13 == 0).select("c_custkey"),
        "c_custkey",
    )
    fold()
    return roll.read().select(
        F.col("c_mktsegment").alias("segment"), "n", "rev6", "hi6"
    )


@query(
    "p_ivm_streamed_join",
    oracle="""
    SELECT o_orderkey AS ok, c_custkey AS ck,
           CASE WHEN c_custkey % 10 = 0 THEN 'VIP' ELSE c_mktsegment END
               AS segment,
           CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS price_c
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderkey % 7 <> 0 AND c_custkey % 13 <> 0
    """,
    doc=(
        "STREAMED incremental join view end-to-end (round 10): the "
        "p_incremental_join_view gauntlet driven entirely by TWO "
        "checkpointed CDC streams (one versioned_table stream per "
        "side, emit_change_types, availableNow drains after each "
        "mutation wave) through join_view_cdc_maintenance_sink — "
        "commit-aligned per-side pins (to_a/to_b), per-side txn "
        "bookmarks for replay exactly-once, zero sink-side state. The "
        "drained view must equal the DuckDB join of the final "
        "snapshots — the same oracle as the batch twin, so the two "
        "queries' hashes agree with each other too."
    ),
    tags=("pipeline", "versioned", "incremental", "join", "cdc", "streaming"),
)
def p_ivm_streamed_join(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.incremental_join import (
        IncrementalJoinView,
    )
    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.sources.versioned_stream import register
    from unity_to_bigquery_spark.streaming.stream import (
        join_view_cdc_maintenance_sink,
    )

    register(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5))
        .cast("long")
        .alias("price_c"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    base = _tmp(f"ivjoin_stream_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(base, ignore_errors=True)
    a = VersionedTable(spark, os.path.join(base, "orders"))
    b = VersionedTable(spark, os.path.join(base, "cust"))
    view = IncrementalJoinView(
        spark, a, "o_orderkey", b, "c_custkey",
        on=("o_custkey", "c_custkey"), root=os.path.join(base, "view"),
    )
    sinks = {
        "a": join_view_cdc_maintenance_sink(view, "a"),
        "b": join_view_cdc_maintenance_sink(view, "b"),
    }

    def drain(side, table):
        q = (
            spark.readStream.format("versioned_table")
            .option("path", table.root)
            .option("emit_change_types", "true")
            .load()
            .writeStream.foreachBatch(sinks[side])
            .option(
                "checkpointLocation", os.path.join(base, f"ckpt_{side}")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # wave 1: initial ingest
    a.commit_append(orders.filter(F.col("o_orderkey") % 3 == 0))
    b.commit_append(cust)
    drain("a", a)
    drain("b", b)
    # wave 2: appends, a merge promotion, deletes on BOTH sides —
    # all arriving as CDC through the resumed checkpoints
    a.commit_append(orders.filter(F.col("o_orderkey") % 3 > 0))
    b.merge_upsert(
        cust.filter(F.col("c_custkey") % 10 == 0).select(
            "c_custkey", F.lit("VIP").alias("c_mktsegment")
        ),
        "c_custkey",
    )
    a.commit_delete_where(
        orders.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey"),
        "o_orderkey",
    )
    b.commit_delete_where(
        cust.filter(F.col("c_custkey") % 13 == 0).select("c_custkey"),
        "c_custkey",
    )
    drain("a", a)
    drain("b", b)
    if view.last_refreshed() != (a.latest_version(), b.latest_version()):
        raise RuntimeError("streamed view is not at the source heads")
    return view.read().select(
        F.col("o_orderkey").alias("ok"),
        F.col("c_custkey").alias("ck"),
        F.col("c_mktsegment").alias("segment"),
        F.col("price_c"),
    )


@query(
    "p_versioned_time_travel_ts",
    oracle="""
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS rev_c
    FROM orders WHERE o_orderkey % 2 = 0
    GROUP BY o_orderstatus
    """,
    doc=(
        "TIMESTAMP time travel (round 10 — Delta timestampAsOf / "
        "Iceberg snapshot-at-timestamp): ingest the even orders, "
        "capture that commit's wall-clock instant from the manifest "
        "audit field, ingest the odd orders and DELETE a slice — then "
        "read_as_of(captured instant) must reproduce exactly the "
        "first snapshot (the oracle aggregates the even orders only). "
        "Also asserts version_at on the live head and that "
        "changes_between the two instants carries exactly the "
        "second-wave commits."
    ),
    tags=("pipeline", "versioned", "time-travel"),
)
def p_versioned_time_travel_ts(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = _tmp(f"versioned_ts_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    t = VersionedTable(spark, path)
    t.commit_append(orders.filter(F.col("o_orderkey") % 2 == 0))
    ts1 = t._read_json(1)["ts"]
    t.commit_append(orders.filter(F.col("o_orderkey") % 2 == 1))
    t.commit_delete_where(
        orders.filter(F.col("o_orderkey") % 5 == 0).select("o_orderkey"),
        "o_orderkey",
    )
    ts3 = t._read_json(3)["ts"]
    if t.version_at(ts3) != 3 or t.version_at(ts1) != 1:
        raise RuntimeError("version_at did not resolve the audit instants")
    # the window between the instants carries exactly commits 2..3
    if t.changes_between(ts1, ts3, with_type=True).agg(
        F.min("_commit_version"), F.max("_commit_version")
    ).first() != (2, 3):
        raise RuntimeError("changes_between window mismatch")
    return (
        t.read_as_of(ts1)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("long")
            ).alias("rev_c"),
        )
        .select(F.col("o_orderstatus").alias("status"), "n", "rev_c")
    )


@query(
    "p_versioned_join_advisor",
    oracle="""
    SELECT p_brand AS brand,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS rev_c
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_quantity > 45
    GROUP BY p_brand
    """,
    doc=(
        "METADATA-ONLY JOIN PLANNING (round 10 — the Iceberg-Puffin/"
        "DataSketches role): both tables carry per-file KMV NDV "
        "sketches (ndv_index_cols) written into the manifest; "
        "suggest_join_strategy answers row counts (footer __nrows), "
        "join-key NDVs (union-of-mins KMV), the containment join-size "
        "estimate rows_a*rows_b/max(ndv), and a broadcast verdict for "
        "the dim side — all with ZERO data IO, BEFORE any scan (Spark's "
        "own AQE only sizes after shuffle materialization). The query "
        "asserts the verdict (broadcast, build side = dim), the "
        "estimate's sanity against the true metadata row count, "
        "executes the join AS ADVISED, asserts BroadcastHashJoin in "
        "the executed plan, and returns the exact aggregate the oracle "
        "recomputes."
    ),
    tags=("pipeline", "versioned", "stats", "join"),
)
def p_versioned_join_advisor(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    base = _tmp(f"join_advisor_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(base, ignore_errors=True)
    fact = VersionedTable(
        spark, os.path.join(base, "fact"), ndv_index_cols=("l_partkey",)
    )
    dim = VersionedTable(
        spark, os.path.join(base, "dim"), ndv_index_cols=("p_partkey",)
    )
    fact.commit_append(li)
    dim.commit_append(part)
    plan = fact.suggest_join_strategy(dim, on=("l_partkey", "p_partkey"))
    if plan["strategy"] != "broadcast" or plan["build_side"] != "b":
        raise RuntimeError(f"advisor verdict unexpected: {plan}")
    # containment sanity: every lineitem has a part, so est ~= rows_a
    if not (0.5 * plan["est_rows_a"] <= plan["est_join_rows"] <= 2.0 * plan["est_rows_a"]):
        raise RuntimeError(f"join-size estimate implausible: {plan}")
    d = dim.read()
    out = (
        fact.read()
        .filter(F.col("l_quantity") > 45)
        .join(F.broadcast(d), F.col("l_partkey") == d["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("rev_c"),
        )
        .select(F.col("p_brand").alias("brand"), "n", "rev_c")
    )
    phys = out._jdf.queryExecution().executedPlan().toString()
    if "BroadcastHashJoin" not in phys:
        raise RuntimeError("advised broadcast join did not plan as broadcast")
    return out


@query(
    "p_versioned_metadata_tables",
    oracle="""
    SELECT CAST((YEAR(CAST(o_orderdate AS DATE)) - 1970) * 12
                + MONTH(CAST(o_orderdate AS DATE)) - 1 AS BIGINT) AS mon,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM orders GROUP BY 1
    """,
    doc=(
        "METADATA TABLES (round 10 — Iceberg t.files/t.snapshots/"
        "t.partitions, Delta DESCRIBE DETAIL/HISTORY as DataFrames): "
        "orders land in two commits under a hidden month() transform "
        "spec; meta_partitions() answers the per-month (n_files, "
        "n_rows) rollup from MANIFEST STATS ALONE — zero data IO — and "
        "must equal the oracle's data-plane GROUP BY of the calendar "
        "month index. In-query: meta_snapshots row-per-version audit, "
        "meta_files n_rows total ≡ snapshot_rows, and per-partition "
        "file counts reconciled against the manifest file list."
    ),
    tags=("pipeline", "versioned", "metadata"),
)
def p_versioned_metadata_tables(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    path = _tmp(f"versioned_meta_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    t = VersionedTable(spark, path, partition_spec=["month(o_orderdate)"])
    t.commit_append(orders.filter(F.col("o_orderkey") % 2 == 0))
    t.commit_append(orders.filter(F.col("o_orderkey") % 2 == 1))
    snaps = t.meta_snapshots().collect()
    if [r.version for r in snaps] != [1, 2] or any(r.op == "" for r in snaps):
        raise RuntimeError("meta_snapshots audit mismatch")
    files = t.meta_files()
    total = files.agg(F.sum("n_rows")).first()[0]
    if total != t.snapshot_rows():
        raise RuntimeError("meta_files n_rows total != snapshot_rows")
    if files.count() != len(t.manifest()["files"]):
        raise RuntimeError("meta_files count != manifest file list")
    mp = t.meta_partitions()
    if mp.agg(F.sum("n_files")).first()[0] != files.count():
        raise RuntimeError("meta_partitions file counts do not reconcile")
    return mp.select(
        F.col("o_orderdate_month").cast("long").alias("mon"),
        F.col("n_rows"),
    )


@query(
    "p_versioned_merge_clauses",
    oracle="""
    WITH src AS (
      SELECT o_orderkey AS k, 'upd' AS op FROM orders
      WHERE o_orderkey % 20 = 0 AND o_orderkey % 30 <> 0
      UNION ALL
      SELECT o_orderkey, 'del' FROM orders WHERE o_orderkey % 30 = 0
    ), tgt AS (
      SELECT CASE WHEN s.op = 'upd' THEN o.o_totalprice * 2
                  ELSE o.o_totalprice END AS price,
             CASE WHEN s.op IS NULL AND o.o_custkey % 10 = 3 THEN '5-STALE'
                  ELSE o.o_orderpriority END AS prio
      FROM orders o LEFT JOIN src s ON o.o_orderkey = s.k
      WHERE COALESCE(s.op, '') <> 'del'
        AND NOT (s.op IS NULL AND o.o_custkey % 10 = 4)
    ), ins AS (
      SELECT o_totalprice AS price, o_orderpriority AS prio
      FROM orders WHERE o_orderkey % 1000 = 0
    ), final AS (
      SELECT * FROM tgt UNION ALL SELECT * FROM ins
    )
    SELECT prio AS o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(price * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS total2
    FROM final GROUP BY prio
    """,
    doc=(
        "Full Delta-style MERGE clause surface (VersionedTable.merge, "
        "VERDICT r10 #1): ordered WHEN MATCHED AND cond DELETE / WHEN "
        "MATCHED UPDATE SET / conditional WHEN NOT MATCHED INSERT / WHEN "
        "NOT MATCHED BY SOURCE UPDATE and DELETE, all in ONE atomic "
        "commit. Matched 'del' rows vanish, matched 'upd' rows double "
        "their price (first-true clause order decides), unmatched 'ins' "
        "source rows land, never-matched target rows go stale-marked or "
        "deleted by the BY SOURCE clauses. Clause-correct CDC is "
        "asserted in-query (update pairs balance; deletes/inserts "
        "present); the final state must equal the oracle's "
        "CASE/anti-join formulation."
    ),
    tags=("pipeline", "versioned", "merge"),
)
def p_versioned_merge_clauses(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import (
        VersionedTable,
        when_matched_delete,
        when_matched_update,
        when_not_matched_by_source_delete,
        when_not_matched_by_source_update,
        when_not_matched_insert,
    )

    orders = load_table(spark, sf_dir, "orders")
    path = _tmp(f"versioned_merge_cl_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    t = VersionedTable(spark, path)
    # two appends -> multiple files; no BY-SOURCE-free fast path here:
    # the BY SOURCE clauses make this a whole-snapshot rewrite by design
    t.commit_append(orders.filter(F.col("o_orderkey") % 2 == 0))
    t.commit_append(orders.filter(F.col("o_orderkey") % 2 == 1))
    v0 = t.latest_version()
    k = F.col("o_orderkey")
    src = (
        orders.filter((k % 20 == 0) & (k % 30 != 0))
        .withColumn("op", F.lit("upd"))
        .unionByName(orders.filter(k % 30 == 0).withColumn("op", F.lit("del")))
        .unionByName(
            orders.filter(k % 1000 == 0)
            .withColumn("o_orderkey", k + F.lit(100000000))
            .withColumn("op", F.lit("ins"))
        )
        .withColumnRenamed("o_orderkey", "k")
    )
    insert_set = {"o_orderkey": "s.k"} | {
        c: f"s.{c}" for c in orders.columns if c != "o_orderkey"
    }
    t.merge(src, "o_orderkey", [
        when_matched_delete(condition="s.op = 'del'"),
        when_matched_update({"o_totalprice": "t.o_totalprice * 2"}),
        when_not_matched_insert(insert_set, condition="s.op = 'ins'"),
        when_not_matched_by_source_update(
            {"o_orderpriority": "'5-STALE'"}, condition="t.o_custkey % 10 = 3"
        ),
        when_not_matched_by_source_delete(condition="t.o_custkey % 10 = 4"),
    ], source_key="k")
    # clause-correct CDC sanity: the rewrite diff classifies into
    # balanced update pre/post pairs plus real deletes and inserts
    types = {
        r["_change_type"]: r["n"]
        for r in t.changes_with_updates("o_orderkey", v0)
        .groupBy("_change_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    if types.get("update_preimage", 0) != types.get("update_postimage", 0):
        raise RuntimeError(f"CDC update pair imbalance: {types}")
    if not (types.get("delete", 0) > 0 and types.get("insert", 0) > 0):
        raise RuntimeError(f"merge CDC missing delete/insert rows: {types}")
    return (
        t.read()
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
            ).alias("total2"),
        )
    )


@query(
    "p_versioned_type_promotion",
    oracle="""
    WITH gen1 AS (
      SELECT CAST(o_orderkey % 1000000000 AS BIGINT) AS k,
             o_orderpriority, o_totalprice
      FROM orders WHERE o_orderkey % 2 = 0
    ), gen2 AS (
      SELECT o_orderkey + 3000000000 AS k, o_orderpriority, o_totalprice
      FROM orders WHERE o_orderkey % 2 = 1
    ), unioned AS (
      SELECT * FROM gen1 UNION ALL SELECT * FROM gen2
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(k % 97) AS BIGINT) AS ksum,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS total2
    FROM unioned WHERE k % 5 = 0 GROUP BY o_orderpriority
    """,
    doc=(
        "Safe TYPE PROMOTION schema evolution (VERDICT r10 #2, Iceberg "
        "ALTER COLUMN TYPE): ingest int32 keys, promote_column to "
        "bigint METADATA-ONLY (asserted in-query: file list unchanged), "
        "then ingest keys beyond int range — a filtered read spans both "
        "file generations, with the old int32 parquet widened at scan "
        "time (SPARK-40876 reader widening, no rewrite). The aggregate "
        "must match the oracle computing the same two-generation union."
    ),
    tags=("pipeline", "versioned", "evolution"),
)
def p_versioned_type_promotion(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders")
    path = _tmp(f"versioned_promote_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    t = VersionedTable(spark, path)
    t.commit_append(
        orders.filter(F.col("o_orderkey") % 2 == 0).select(
            # % 1e9 bounds the int32 cast under scale_smoke's replica
            # offsets (CLAUDE.md rule 14d); identity at base SFs
            (F.col("o_orderkey") % 1000000000).cast("int").alias("k"),
            "o_orderpriority", "o_totalprice",
        )
    )
    files_before = list(t.manifest()["files"])
    t.promote_column("k", "bigint")
    if t.manifest()["files"] != files_before:
        raise RuntimeError("promote_column touched data files")
    if dict(t.read().dtypes)["k"] != "bigint":
        raise RuntimeError("promotion did not widen the read schema")
    t.commit_append(
        orders.filter(F.col("o_orderkey") % 2 == 1).select(
            (F.col("o_orderkey") + F.lit(3000000000)).alias("k"),
            "o_orderpriority", "o_totalprice",
        )
    )
    return (
        t.read()
        .filter(F.col("k") % 5 == 0)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("k") % 97).alias("ksum"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
            ).alias("total2"),
        )
    )


@query(
    "p_continuous_aggregate_minmax",
    oracle="""
    WITH live AS (
      SELECT event_type, value FROM events
      WHERE event_id % 3 IN (0, 1) AND value < 400.0 AND value > 40.0
      UNION ALL
      SELECT event_type, value FROM events WHERE event_id % 3 = 2
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT))
                AS BIGINT) AS sum6,
           CAST(MIN(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT))
                AS BIGINT) AS lo6,
           CAST(MAX(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT))
                AS BIGINT) AS hi6
    FROM live GROUP BY event_type
    """,
    doc=(
        "MIN/MAX measures in IVM (VERDICT r10 #3 — the classic "
        "NON-INVERTIBLE aggregate): a ContinuousAggregate carries lo6/"
        "hi6 extrema; a delete wave removes EVERY group's current max "
        "(value >= 400) and min (value <= 40) in one commit, forcing "
        "the key-scoped live-source rescan (appends stay pure least/"
        "greatest folds); a later append re-raises the extrema. The "
        "rollup after three refreshes must equal a direct groupBy of "
        "the live snapshot — the oracle's union/filter formulation."
    ),
    tags=("pipeline", "versioned", "incremental", "aggregate", "cdc"),
)
def p_continuous_aggregate_minmax(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.incremental_agg import ContinuousAggregate
    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    base = _tmp(f"contagg_mm_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(base, ignore_errors=True)
    src = VersionedTable(spark, os.path.join(base, "src"))
    agg = ContinuousAggregate(
        spark, src, os.path.join(base, "agg"),
        key="event_type", measures={"sum6": "value"},
        min_measures={"lo6": "value"}, max_measures={"hi6": "value"},
        handle_deletes=True,
    )
    wave1 = events.filter(F.col("event_id") % 3 <= 1)
    src.commit_append(wave1)
    agg.refresh()
    # one delete commit kills every group's live max AND min
    src.commit_delete_where(
        wave1.filter(
            (F.col("value") >= 400.0) | (F.col("value") <= 40.0)
        ).select("event_id"),
        "event_id",
    )
    agg.refresh()
    # fresh extrema arrive after the retraction
    src.commit_append(events.filter(F.col("event_id") % 3 == 2))
    agg.refresh()
    agg.refresh()  # no-op replay
    return agg.read().select("event_type", "n", "sum6", "lo6", "hi6")


@query(
    "p_catalog_streamed_txn",
    oracle="""
    SELECT 'evens' AS tbl, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS total2
    FROM orders WHERE o_orderkey % 2 = 0 GROUP BY o_orderpriority
    UNION ALL
    SELECT 'odds', o_orderpriority,
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT)
    FROM orders WHERE o_orderkey % 2 = 1 GROUP BY o_orderpriority
    """,
    doc=(
        "MULTI-TABLE STREAMING TRANSACTION (VERDICT r10 #8 — the "
        "streamed twin of p_catalog_multi_table_txn): a checkpointed "
        "stream over a staging table routes every micro-batch into TWO "
        "catalog tables through ONE CatalogTransaction (one catalog "
        "CAS per batch). The middle batch CRASHES between publishes "
        "(fault-injected intent + one publish, then die): the torn "
        "state is proven INVISIBLE through the catalog in-query, the "
        "restarted stream's first act is recover() (completing the "
        "transaction), and the replayed batch no-ops via the "
        "txn-through-publish bookmarks — then a third wave lands "
        "normally. The final catalog-pinned states must equal the "
        "oracle's even/odd partition of the whole source: exactly "
        "once, despite the kill."
    ),
    tags=("pipeline", "versioned", "catalog", "transaction", "streaming"),
)
def p_catalog_streamed_txn(spark, sf_dir):
    import json
    import shutil

    from unity_to_bigquery_spark.plans.table_catalog import TableCatalog
    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.sources.versioned_stream import register
    from unity_to_bigquery_spark.streaming.stream import catalog_txn_sink

    register(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    base = _tmp(f"catalog_stream_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(base, ignore_errors=True)
    src = VersionedTable(spark, os.path.join(base, "src"))
    cat = TableCatalog(spark, os.path.join(base, "cat"))
    cat.create_table("evens")
    cat.create_table("odds")
    writes = {
        "evens": lambda b: b.filter(F.col("o_orderkey") % 2 == 0),
        "odds": lambda b: b.filter(F.col("o_orderkey") % 2 == 1),
    }

    def injector(tx, batch_id):
        if batch_id == 1:  # die between publishes, like the batch twin
            with open(cat._intent_path(tx.txn_id), "x") as fh:
                json.dump({"txn_id": tx.txn_id, "tables": tx._staged}, fh)
            first = next(iter(tx._staged))
            cat.table(first).publish_branch(tx._staged[first])
            raise RuntimeError("injected crash between publishes")

    def drain(sink):
        q = (
            spark.readStream.format("versioned_table")
            .option("path", src.root)
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    healthy = catalog_txn_sink(cat, "router", writes)
    faulty = catalog_txn_sink(cat, "router", writes, fault_injection=injector)
    # wave 1: clean batch 0
    src.commit_append(orders.filter(F.col("o_orderkey") % 3 == 0))
    drain(healthy)
    v_after_1 = cat.entry()["version"]
    n_evens_1 = cat.read("evens").count()
    # wave 2: batch 1 crashes between publishes
    src.commit_append(orders.filter(F.col("o_orderkey") % 3 == 1))
    try:
        drain(faulty)
        raise RuntimeError("injected crash did not surface")
    except Exception as e:
        if "injected crash" not in str(e):
            raise
    # torn physical state invisible through the catalog
    if cat.entry()["version"] != v_after_1:
        raise RuntimeError("catalog moved past the crashed transaction")
    if cat.read("evens").count() != n_evens_1:
        raise RuntimeError("catalog read leaked the torn state")
    direct_counts = [
        cat.table(n).read().count() if cat.table(n).latest_version() else 0
        for n in ("evens", "odds")
    ]
    if not any(
        d > c
        for d, c in zip(
            direct_counts, [n_evens_1, cat.read("odds").count()]
        )
    ):
        raise RuntimeError("crash simulation did not tear the state")
    # restart: recover() completes the txn, the replayed batch no-ops
    drain(healthy)
    # wave 3: clean batch 2
    src.commit_append(orders.filter(F.col("o_orderkey") % 3 == 2))
    drain(healthy)
    ev = cat.read("evens")
    od = cat.read("odds")

    def roll(df, tag):
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
            ).alias("total2"),
        ).select(
            F.lit(tag).alias("tbl"), "o_orderpriority", "n", "total2"
        )

    return roll(ev, "evens").unionByName(roll(od, "odds"))


@query(
    "p_versioned_update_where",
    oracle="""
    WITH updated AS (
      SELECT CASE WHEN o_custkey % 7 = 0 THEN '9-REPRICED'
                  ELSE o_orderpriority END AS prio,
             CASE WHEN o_custkey % 7 = 0 THEN o_totalprice * 2
                  ELSE o_totalprice END AS price
      FROM orders
    )
    SELECT prio, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(price * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS total2
    FROM updated GROUP BY prio
    """,
    doc=(
        "Predicate UPDATE (round 11 — Delta's UPDATE t SET col = expr "
        "WHERE cond): one live scan finds the files holding matching "
        "rows, ONLY those rewrite (matching rows through the set "
        "expressions, neighbors carried verbatim), every provably "
        "untouched file carries byte-identical — asserted in-query "
        "against the manifest. The final state must equal the oracle's "
        "CASE formulation."
    ),
    tags=("pipeline", "versioned", "update"),
)
def p_versioned_update_where(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders")
    path = _tmp(f"versioned_updw_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    t = VersionedTable(spark, path)
    # matching rows isolated in their own files: the second append's
    # files must carry through the update untouched
    t.commit_append(orders.filter(F.col("o_custkey") % 7 == 0))
    t.commit_append(orders.filter(F.col("o_custkey") % 7 != 0))
    m0 = t.manifest()
    clean = {
        f for f in m0["files"]
        if t.manifest()["file_versions"][f] == 2
    }
    t.update_where(
        {
            "o_orderpriority": "'9-REPRICED'",
            "o_totalprice": "o_totalprice * 2",
        },
        "o_custkey % 7 = 0",
    )
    m1 = t.manifest()
    if not clean <= set(m1["files"]):
        raise RuntimeError("update_where rewrote provably-untouched files")
    if set(m1["files"]) & (set(m0["files"]) - clean):
        raise RuntimeError("update_where carried a matching file unrewritten")
    # round 12 (VERDICT r11 #5): phase 1 is stats-pruned for simple
    # conjuncts — a range predicate no file can satisfy must skip every
    # candidate from the MANIFEST alone, and the DML short-circuits to
    # a no-op commit-free return without scanning a byte
    cand, skipped = t.prune_files_condition("o_orderkey <= -1")
    if cand or skipped != len(m1["files"]):
        raise RuntimeError(
            f"phase-1 pruning failed: {len(cand)} candidates, "
            f"{skipped} skipped of {len(m1['files'])}"
        )
    v = t.latest_version()
    if t.update_where({"o_totalprice": "0.0"}, "o_orderkey <= -1") != v:
        raise RuntimeError("pruned-to-zero update was not a no-op")
    return (
        t.read()
        .groupBy(F.col("o_orderpriority").alias("prio"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
            ).alias("total2"),
        )
    )


@query(
    "p_versioned_delete_expr",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS total2
    FROM orders
    WHERE NOT (o_orderpriority = '1-URGENT' AND o_orderkey % 3 = 0)
      AND o_orderkey % 2 <> 0
    GROUP BY o_orderpriority
    """,
    doc=(
        "Predicate DELETE (round 11 — Delta's DELETE FROM t WHERE "
        "cond) with BOTH routes exercised and asserted in-query: a "
        "selective predicate lands as merge-on-read POSITIONAL deletes "
        "(zero data files rewritten — file list unchanged, metadata "
        "COUNT still answers scan-free), then a mass predicate runs "
        "copy-on-write (touched files rewritten without matches). The "
        "surviving aggregate must equal the oracle's double-NOT "
        "filter."
    ),
    tags=("pipeline", "versioned", "delete"),
)
def p_versioned_delete_expr(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders")
    path = _tmp(f"versioned_delw_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    t = VersionedTable(spark, path)
    t.commit_append(orders.filter(F.col("o_orderkey") % 2 == 0))
    t.commit_append(orders.filter(F.col("o_orderkey") % 2 == 1))
    files0 = list(t.manifest()["files"])
    n0 = t.snapshot_rows()
    # route 1: auto -> DELETION-VECTOR pos-deletes, zero rewrites at
    # ANY match count (round 12, VERDICT r11 #2 — the pre-r12 ×10 mode
    # pin is gone with the 100k copy-on-write cliff)
    t.delete_rows_where(
        "o_orderpriority = '1-URGENT' AND o_orderkey % 3 = 0"
    )
    m = t.manifest()
    if m["files"] != files0:
        raise RuntimeError("MoR delete route rewrote data files")
    if not m.get("pos_deletes"):
        raise RuntimeError("MoR delete route produced no pos-delete entry")
    n1 = t.snapshot_rows()
    if n1 is None or n1 >= n0:
        raise RuntimeError("metadata COUNT wrong after MoR predicate delete")
    # route 2: mass delete -> copy-on-write
    t.delete_rows_where("o_orderkey % 2 = 0", mode="rewrite")
    if t.manifest()["op"] != "delete_rows_where":
        raise RuntimeError("rewrite route did not commit")
    return (
        t.read()
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
            ).alias("total2"),
        )
    )


@query(
    "p_versioned_merge_sql",
    oracle="""
    WITH src AS (
      SELECT o_orderkey AS k, 'upd' AS op FROM orders
      WHERE o_orderkey % 20 = 0 AND o_orderkey % 30 <> 0
      UNION ALL
      SELECT o_orderkey, 'del' FROM orders WHERE o_orderkey % 30 = 0
    ), tgt AS (
      SELECT CASE WHEN s.op = 'upd' THEN o.o_totalprice * 2
                  ELSE o.o_totalprice END AS price,
             CASE WHEN s.op IS NULL AND o.o_custkey % 10 = 3 THEN '5-STALE'
                  ELSE o.o_orderpriority END AS prio
      FROM orders o LEFT JOIN src s ON o.o_orderkey = s.k
      WHERE COALESCE(s.op, '') <> 'del'
        AND NOT (s.op IS NULL AND o.o_custkey % 10 = 4)
    ), ins AS (
      SELECT o_totalprice AS price, o_orderpriority AS prio
      FROM orders WHERE o_orderkey % 1000 = 0
    ), final AS (
      SELECT * FROM tgt UNION ALL SELECT * FROM ins
    )
    SELECT prio AS o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(price * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS total2
    FROM final GROUP BY prio
    """,
    doc=(
        "MERGE INTO as a SQL STATEMENT (round 11 — the Delta SQL front "
        "door over VersionedTable.merge): the exact "
        "p_versioned_merge_clauses gauntlet expressed as one MERGE "
        "INTO string with custom aliases, parsed by parse_merge_sql "
        "and executed through the clause engine — same oracle as the "
        "programmatic twin, so the two queries' hashes must agree "
        "with each other AND with DuckDB."
    ),
    tags=("pipeline", "versioned", "merge", "sql"),
)
def p_versioned_merge_sql(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders")
    path = _tmp(f"versioned_merge_sql_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    t = VersionedTable(spark, path)
    t.commit_append(orders.filter(F.col("o_orderkey") % 2 == 0))
    t.commit_append(orders.filter(F.col("o_orderkey") % 2 == 1))
    k = F.col("o_orderkey")
    src = (
        orders.filter((k % 20 == 0) & (k % 30 != 0))
        .withColumn("op", F.lit("upd"))
        .unionByName(orders.filter(k % 30 == 0).withColumn("op", F.lit("del")))
        .unionByName(
            orders.filter(k % 1000 == 0)
            .withColumn("o_orderkey", k + F.lit(100000000))
            .withColumn("op", F.lit("ins"))
        )
        .withColumnRenamed("o_orderkey", "sk")
    )
    cols = ", ".join(orders.columns)
    vals = "u.sk, " + ", ".join(f"u.{c}" for c in orders.columns if c != "o_orderkey")
    t.merge_sql(src, f"""
        MERGE INTO orders_t tgt USING updates u ON tgt.o_orderkey = u.sk
        WHEN MATCHED AND u.op = 'del' THEN DELETE
        WHEN MATCHED THEN UPDATE SET o_totalprice = tgt.o_totalprice * 2
        WHEN NOT MATCHED AND u.op = 'ins' THEN INSERT ({cols}) VALUES ({vals})
        WHEN NOT MATCHED BY SOURCE AND tgt.o_custkey % 10 = 3 THEN
            UPDATE SET o_orderpriority = '5-STALE'
        WHEN NOT MATCHED BY SOURCE AND tgt.o_custkey % 10 = 4 THEN DELETE
    """)
    return (
        t.read()
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
            ).alias("total2"),
        )
    )


@query(
    "p_versioned_sql_dml",
    oracle="""
    WITH base AS (
      SELECT o_orderpriority AS prio,
             CASE WHEN o_orderpriority = '1-URGENT' AND o_orderkey % 5 = 0
                  THEN o_totalprice * 2 ELSE o_totalprice END AS price
      FROM orders
      WHERE NOT (o_orderpriority = '5-LOW' AND o_orderkey % 2 = 0)
      UNION ALL SELECT '9-SQL', 100.25
      UNION ALL SELECT '9-SQL', 200.5
      UNION ALL SELECT '9-SQL', 300.0
    )
    SELECT prio, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(price * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS total2
    FROM base GROUP BY prio
    """,
    doc=(
        "SQL DML front doors (round 12, VERDICT r11 #3): INSERT INTO "
        "... VALUES, UPDATE ... SET ... WHERE, and DELETE FROM ... "
        "WHERE statements composed on one VersionedTable — each parsed "
        "by parse_insert/update/delete_sql and executed through the "
        "existing engines (commit_append / update_where / "
        "delete_rows_where). A programmatic twin runs the same three "
        "operations through the native APIs and the two final states "
        "are asserted IDENTICAL in-query (exceptAll both ways) before "
        "the aggregate is compared with DuckDB."
    ),
    tags=("pipeline", "versioned", "sql"),
)
def p_versioned_sql_dml(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders")
    base = os.path.basename(sf_dir.rstrip("/"))
    path = _tmp(f"versioned_sqldml_{base}")
    path2 = _tmp(f"versioned_sqldml_twin_{base}")
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(path2, ignore_errors=True)
    ins = (
        "INSERT INTO t (o_orderkey, o_custkey, o_orderstatus, "
        "o_totalprice, o_orderpriority) VALUES "
        "(-1, 0, 'X', CAST(100.25 AS DOUBLE), '9-SQL'), "
        "(-2, 0, 'X', CAST(200.5 AS DOUBLE), '9-SQL'), "
        "(-3, 0, 'X', CAST(300.0 AS DOUBLE), '9-SQL')"
    )
    upd_set = {"o_totalprice": "o_totalprice * CAST(2 AS DOUBLE)"}
    upd_cond = "o_orderpriority = '1-URGENT' AND o_orderkey % 5 = 0"
    del_cond = "o_orderpriority = '5-LOW' AND o_orderkey % 2 = 0"
    t = VersionedTable(spark, path)
    t.commit_append(orders)
    t.insert_sql(ins)
    t.update_sql(
        "UPDATE t SET o_totalprice = o_totalprice * CAST(2 AS DOUBLE) "
        f"WHERE {upd_cond}"
    )
    t.delete_sql(f"DELETE FROM t WHERE {del_cond}")
    # programmatic twin: identical semantics through the native APIs
    t2 = VersionedTable(spark, path2)
    t2.commit_append(orders)
    t2.commit_append(
        spark.sql(
            "SELECT CAST(-1 AS BIGINT) o_orderkey, CAST(0 AS BIGINT) "
            "o_custkey, 'X' o_orderstatus, CAST(100.25 AS DOUBLE) "
            "o_totalprice, CAST(NULL AS TIMESTAMP) o_orderdate, "
            "'9-SQL' o_orderpriority "
            "UNION ALL SELECT -2, 0, 'X', CAST(200.5 AS DOUBLE), NULL, '9-SQL' "
            "UNION ALL SELECT -3, 0, 'X', CAST(300.0 AS DOUBLE), NULL, '9-SQL'"
        )
    )
    t2.update_where(upd_set, upd_cond)
    t2.delete_rows_where(del_cond)
    a, b = t.read(), t2.read()
    diff = a.exceptAll(b).unionAll(b.exceptAll(a))
    if diff.limit(1).count():
        raise RuntimeError("SQL DML state diverged from programmatic twin")
    return (
        t.read()
        .groupBy(F.col("o_orderpriority").alias("prio"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
            ).alias("total2"),
        )
    )


@query(
    "p_versioned_occ_rebase",
    oracle="""
    WITH upd AS (
      SELECT o_orderpriority AS prio,
             CASE WHEN o_orderpriority = '1-URGENT' AND o_orderkey <= 5000
                  THEN o_totalprice * 2 ELSE o_totalprice END AS price
      FROM orders
    ), racer AS (
      SELECT '9-RACER' AS prio, o_totalprice AS price
      FROM orders WHERE o_orderkey % 100 = 0
    ), final AS (
      SELECT * FROM upd UNION ALL SELECT * FROM racer
    )
    SELECT prio, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(price * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS total2
    FROM final GROUP BY prio
    """,
    doc=(
        "OPTIMISTIC CONFLICT RESOLUTION (round 12, VERDICT r11 #1 — "
        "the headline): a DISJOINT append races an UPDATE ... WHERE "
        "between its staging write and its publish. Pre-r12 every "
        "maintenance op aborted on ANY concurrent commit; now the "
        "interleaved commit's added files are checked against the "
        "update predicate via manifest stats (the racer's key range "
        "and priority both prune), the staged rewrite REBASES onto "
        "the new head with zero recompute, and BOTH writers' effects "
        "land — asserted in-query (no ConcurrentWriteError, racer "
        "version interleaved below the update commit, racer rows "
        "intact, final state matches DuckDB computing both effects)."
    ),
    tags=("pipeline", "versioned", "occ"),
)
def p_versioned_occ_rebase(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders")
    path = _tmp(f"versioned_occ_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    t = VersionedTable(spark, path)
    t.commit_append(orders)
    v0 = t.latest_version()
    racer = (
        orders.filter(F.col("o_orderkey") % 100 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(100000000))
        .withColumn("o_orderpriority", F.lit("9-RACER"))
    )
    state = {"raced": False}
    orig = t._write_files

    def write_then_race(df):
        staged = orig(df)
        if not state["raced"]:
            state["raced"] = True
            VersionedTable(spark, path).commit_append(racer)
        return staged

    t._write_files = write_then_race
    t.update_where(
        {"o_totalprice": "o_totalprice * CAST(2 AS DOUBLE)"},
        "o_orderpriority = '1-URGENT' AND o_orderkey <= 5000",
    )
    if not state["raced"]:
        raise RuntimeError("race harness never fired")
    m = t.manifest()
    if m["version"] != v0 + 2 or m["op"] != "update_where":
        raise RuntimeError(
            f"expected racer append at v{v0 + 1} under the rebased "
            f"update at v{v0 + 2}; head is {m['op']}@{m['version']}"
        )
    return (
        t.read()
        .groupBy(F.col("o_orderpriority").alias("prio"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
            ).alias("total2"),
        )
    )


@query(
    "p_versioned_add_column_default",
    oracle="""
    WITH pre AS (
      SELECT o_orderpriority AS prio, 2.5 AS bonus
      FROM orders WHERE o_orderkey % 2 = 0
    ), post AS (
      SELECT o_orderpriority,
             CASE WHEN o_custkey % 5 = 0 THEN NULL
                  ELSE CAST(o_custkey % 10 AS DOUBLE) END
      FROM orders WHERE o_orderkey % 2 = 1
    ), final AS (
      SELECT * FROM pre UNION ALL SELECT * FROM post
    )
    SELECT prio, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(bonus) AS BIGINT) AS n_bonus,
           CAST(SUM(CAST(FLOOR(bonus * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS bonus2
    FROM final GROUP BY prio
    """,
    doc=(
        "ADD COLUMN ... DEFAULT (round 12, VERDICT r11 #7 — Iceberg v3 "
        "initial defaults): files written BEFORE the column existed "
        "read the declared default (2.5) through the widened manifest "
        "schema with zero file rewrites; files written after read "
        "their stored values INCLUDING explicit NULLs (initial-default "
        "semantics, not COALESCE — the oracle's CASE emits real NULLs "
        "that must survive). Aggregate spans both generations."
    ),
    tags=("pipeline", "versioned", "evolution"),
)
def p_versioned_add_column_default(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders")
    path = _tmp(f"versioned_addcol_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    t = VersionedTable(spark, path)
    t.commit_append(orders.filter(F.col("o_orderkey") % 2 == 0))
    files_pre = set(t.manifest()["files"])
    t.add_column("bonus", "double", default="CAST(2.5 AS DOUBLE)")
    if set(t.manifest()["files"]) != files_pre:
        raise RuntimeError("add_column touched data files (must be metadata-only)")
    t.commit_append(
        orders.filter(F.col("o_orderkey") % 2 == 1).withColumn(
            "bonus",
            F.when(F.col("o_custkey") % 5 == 0, F.lit(None)).otherwise(
                (F.col("o_custkey") % 10).cast("double")
            ),
        )
    )
    return (
        t.read()
        .groupBy(F.col("o_orderpriority").alias("prio"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("bonus").alias("n_bonus"),
            F.sum(
                F.floor(F.col("bonus") * 100.0 + 0.5).cast("long")
            ).alias("bonus2"),
        )
    )


@query(
    "p_versioned_nested_evolution",
    oracle="""
    SELECT o_orderstatus AS cat, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_custkey % 100 AS BIGINT)) AS BIGINT) AS units
    FROM orders GROUP BY o_orderstatus
    """,
    doc=(
        "NESTED-FIELD evolution (round 12, VERDICT r11 #4): ingest a "
        "struct column, then RENAME a member (metadata-only, field-ID "
        "mapping — old files read through it), PROMOTE a member "
        "int->long (Spark-4 nested reader widening), and keep "
        "ingesting through the evolved layout; the read spans both "
        "generations and must aggregate identically to DuckDB over "
        "the flat source. Metadata-only-ness asserted in-query."
    ),
    tags=("pipeline", "versioned", "evolution"),
)
def p_versioned_nested_evolution(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders")
    path = _tmp(f"versioned_nested_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    t = VersionedTable(spark, path)
    # generation 1: original member names (val INT)
    t.commit_append(
        orders.filter(F.col("o_orderkey") % 2 == 0).selectExpr(
            "o_orderkey",
            "struct(o_orderstatus AS cat, CAST(o_custkey % 100 AS INT) AS val)"
            " AS props",
        )
    )
    files_pre = set(t.manifest()["files"])
    t.rename_nested_field("props", "val", "units")
    t.promote_nested_field("props", "units", "long")
    if set(t.manifest()["files"]) != files_pre:
        raise RuntimeError("nested evolution touched data files")
    # generation 2: evolved member names/types
    t.commit_append(
        orders.filter(F.col("o_orderkey") % 2 == 1).selectExpr(
            "o_orderkey",
            "struct(o_orderstatus AS cat, CAST(o_custkey % 100 AS BIGINT)"
            " AS units) AS props",
        )
    )
    return (
        t.read()
        .groupBy(F.col("props.cat").alias("cat"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("props.units").alias("units"),
        )
    )


@query(
    "p_versioned_streamed_dml",
    oracle="""
    SELECT o_orderpriority AS prio, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(
             CASE WHEN o_custkey % 10 = 1 THEN o_totalprice * 2
                  ELSE o_totalprice END * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS total2
    FROM orders WHERE o_custkey % 10 NOT IN (3, 7)
    GROUP BY o_orderpriority
    """,
    doc=(
        "STREAMING SQL DML (round 12 — dml_sink composing the SQL "
        "front doors with txn exactly-once): a checkpointed stream of "
        "erasure/reprice REQUESTS drives per-batch DELETE and UPDATE "
        "statements against a live table (the GDPR-deleter shape). "
        "Batch 1 deletes two custkey buckets (lands as deletion "
        "vectors — zero files rewritten, asserted in-query), batch 2 "
        "doubles another bucket's prices (stats-pruned predicate "
        "phase). A re-drain of the same checkpoint is a no-op and a "
        "manual replay of batch 0's statement with its recorded txn "
        "id no-ops too — exactly-once through the DML path, asserted "
        "in-query. Final state ≡ DuckDB applying both effects."
    ),
    tags=("pipeline", "versioned", "sql", "streaming"),
)
def p_versioned_streamed_dml(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.sources.versioned_stream import register
    from unity_to_bigquery_spark.streaming.stream import dml_sink

    register(spark)
    orders = load_table(spark, sf_dir, "orders")
    base = _tmp(f"versioned_sdml_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(base, ignore_errors=True)
    t = VersionedTable(spark, os.path.join(base, "tbl"))
    t.commit_append(orders)
    files0 = set(t.manifest()["files"])
    req = VersionedTable(spark, os.path.join(base, "req"))

    def stmt(batch_df, batch_id):
        rows = batch_df.collect()  # request batches are tiny by contract
        dels = sorted({int(r.arg) for r in rows if r.op == "delete"})
        boosts = sorted({int(r.arg) for r in rows if r.op == "boost"})
        if dels:
            in_list = ", ".join(map(str, dels))
            return f"DELETE FROM t WHERE o_custkey % 10 IN ({in_list})"
        if boosts:
            return (
                "UPDATE t SET o_totalprice = o_totalprice * "
                f"CAST(2 AS DOUBLE) WHERE o_custkey % 10 = {boosts[0]}"
            )
        return None

    sink = dml_sink(t, "req-dml", stmt)

    def drain():
        q = (
            spark.readStream.format("versioned_table")
            .option("path", req.root)
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # wave 1: erasure requests -> one DELETE batch (DV route)
    req.commit_append(
        spark.createDataFrame([("delete", 3), ("delete", 7)], "op STRING, arg INT")
    )
    drain()
    if set(t.manifest()["files"]) != files0 or not t.manifest().get("pos_deletes"):
        raise RuntimeError("streamed DELETE did not land as deletion vectors")
    # wave 2: reprice requests -> one UPDATE batch
    req.commit_append(
        spark.createDataFrame([("boost", 1)], "op STRING, arg INT")
    )
    drain()
    v = t.latest_version()
    # re-drain: checkpoint replays nothing, table untouched
    drain()
    if t.latest_version() != v:
        raise RuntimeError("checkpoint re-drain mutated the table")
    # manual replay of batch 0's statement with its original txn id
    sink(spark.createDataFrame([("delete", 1)], "op STRING, arg INT"), 0)
    if t.latest_version() != v:
        raise RuntimeError("txn replay was not a no-op")
    return (
        t.read()
        .groupBy(F.col("o_orderpriority").alias("prio"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
            ).alias("total2"),
        )
    )


@query(
    "p_versioned_clone",
    oracle="""
    WITH w1 AS (SELECT * FROM orders WHERE o_orderkey % 3 < 2),
         w2 AS (SELECT * FROM orders WHERE o_orderkey % 3 = 2),
         at_clone AS (
           SELECT * FROM w1 WHERE o_orderkey % 7 <> 0
           UNION ALL SELECT * FROM w2
         ),
         clone_final AS (
           SELECT o_orderpriority, o_totalprice FROM at_clone
           WHERE o_orderkey % 5 <> 0
           UNION ALL
           SELECT o_orderpriority, o_totalprice FROM orders
           WHERE o_orderkey % 11 = 0
         )
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS total2
    FROM clone_final GROUP BY o_orderpriority
    """,
    doc=(
        "ZERO-COPY CLONE (round 11 — VersionedTable.clone_linked, the "
        "Delta CLONE sandbox primitive, hard-link variant): the source "
        "carries live merge-on-read deletes AND post-delete re-inserts; "
        "the clone rebases the delete sequencing order-preservingly "
        "(re-inserted keys survive, a NEW delete on the clone hits "
        "carried files), every data byte is a hard link (st_nlink "
        "asserted in-query — zero copy), and mutations on the clone "
        "(a delete + an append) never leak back to the source "
        "(asserted). The clone's final state must equal the oracle's "
        "reconstruction."
    ),
    tags=("pipeline", "versioned", "clone"),
)
def p_versioned_clone(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import DATA_DIR, VersionedTable

    orders = load_table(spark, sf_dir, "orders")
    base = _tmp(f"versioned_clone_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(base, ignore_errors=True)
    t = VersionedTable(spark, os.path.join(base, "src"))
    t.commit_append(orders.filter(F.col("o_orderkey") % 3 < 2))
    t.commit_delete_where(
        orders.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey"),
        "o_orderkey",
    )
    t.commit_append(orders.filter(F.col("o_orderkey") % 3 == 2))
    n_src = t.read().count()
    c = t.clone_linked(os.path.join(base, "clone"))
    for f in c.manifest()["files"][:3]:
        if os.stat(os.path.join(base, "clone", DATA_DIR, f)).st_nlink < 2:
            raise RuntimeError(f"clone copied data bytes for {f}")
    # clone-side mutations: a delete and an append
    c.commit_delete_where(
        orders.filter(F.col("o_orderkey") % 5 == 0).select("o_orderkey"),
        "o_orderkey",
    )
    c.commit_append(
        orders.filter(F.col("o_orderkey") % 11 == 0).withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(200000000)
        )
    )
    if t.read().count() != n_src:
        raise RuntimeError("clone mutations leaked into the source")
    return (
        c.read()
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
            ).alias("total2"),
        )
    )


@query(
    "p_versioned_sql_select",
    oracle="""
    SELECT o_orderpriority AS prio, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT cust) AS BIGINT) AS ncust,
           CAST(SUM(CAST(FLOOR(price * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS total2
    FROM (
      SELECT o_orderpriority, o_custkey AS cust, o_totalprice AS price
      FROM orders WHERE NOT (o_orderkey % 10 = 7)
    ) GROUP BY o_orderpriority
    """,
    doc=(
        "SQL READ front door (round 13, VERDICT r12 #1): the lakehouse "
        "is SELECT-able. The table commits in key-range chunks, MoR-"
        "deletes a predicate, and renames a column; then (a) "
        "VersionedTable.sql() with VERSION AS OF time-travel syntax "
        "must equal the programmatic read(version) aggregate; (b) the "
        "batch DSv2 relation (spark.read.format('versioned_table')) "
        "with pushdown=true must return exactly the programmatic rows "
        "for a range predicate AND plan FEWER InputPartitions than the "
        "live file count (manifest-stats file pruning through the "
        "DSv2 path, asserted in-query); (c) the signed fold of the "
        "batch change-feed relation (readChangeFeed=true) over the "
        "delete-and-rename window must equal read(end) minus "
        "read(start) — an oracle independent of the one change-feed "
        "planner the relation, the CDC stream and changes_with_type "
        "share. "
        "The returned aggregate runs through spark.sql on the "
        "registered view and is oracled against DuckDB."
    ),
    tags=("pipeline", "versioned", "sql"),
)
def p_versioned_sql_select(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable
    from unity_to_bigquery_spark.sources.versioned_stream import register

    register(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
    )
    base = os.path.basename(sf_dir.rstrip("/"))
    path = _tmp(f"versioned_sqlselect_{base}")
    shutil.rmtree(path, ignore_errors=True)
    t = VersionedTable(spark, path)
    # 4 key-range chunks -> disjoint per-file o_orderkey range stats
    # (what makes the DSv2 pushdown pruning assertable)
    hi = orders.agg(F.max("o_orderkey")).first()[0]
    cuts = [0, hi // 4, hi // 2, (3 * hi) // 4, hi]
    for lo_c, hi_c in zip(cuts, cuts[1:]):
        chunk = orders.filter(
            (F.col("o_orderkey") > lo_c) & (F.col("o_orderkey") <= hi_c)
        ).coalesce(1)
        t.commit_append(chunk)
    # cut 0 is exclusive at the low end: commit any orderkey <= 0 rows
    rest = orders.filter(F.col("o_orderkey") <= 0)
    if rest.limit(1).count():
        t.commit_append(rest.coalesce(1))
    v_full = t.latest_version()
    t.delete_rows_where("o_orderkey % 10 = 7", mode="mor")
    t.rename_column("o_custkey", "cust")

    # (a) VERSION AS OF via the SQL front door == programmatic read
    sql_asof = t.sql(
        f"SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t VERSION AS OF {v_full}"
    ).first().n
    prog_asof = t.read(v_full).count()
    if sql_asof != prog_asof:
        raise RuntimeError(
            f"VERSION AS OF diverged: sql={sql_asof} read()={prog_asof}"
        )

    # (b) DSv2 pushdown point/range read == programmatic, FEWER partitions
    prev = spark.conf.get("spark.sql.python.filterPushdown.enabled", None)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        lo_k, hi_k = cuts[1] + 1, cuts[2]  # exactly the 2nd chunk's range
        ds = (
            spark.read.format("versioned_table")
            .option("path", path)
            .option("pushdown", "true")
            .load()
            .filter(
                (F.col("o_orderkey") >= lo_k) & (F.col("o_orderkey") <= hi_k)
            )
        )
        nparts = ds.rdd.getNumPartitions()
        nfiles = len(t.manifest()["files"])
        if not nparts < nfiles:
            raise RuntimeError(
                f"DSv2 pushdown did not prune: {nparts} partitions over "
                f"{nfiles} live files"
            )
        prog = t.read().filter(
            (F.col("o_orderkey") >= lo_k) & (F.col("o_orderkey") <= hi_k)
        )
        # persist: each side of the two-way exceptAll is referenced
        # twice — without it the Python-source scan executes twice.
        # try/finally (ADVICE r13): a failing compare must not leak
        # the persisted blocks into the rest of the session.
        ds = ds.persist()
        prog = prog.persist()
        try:
            diff = ds.exceptAll(prog).unionAll(prog.exceptAll(ds))
            if diff.limit(1).count():
                raise RuntimeError(
                    "DSv2 snapshot diverged from programmatic read"
                )
        finally:
            ds.unpersist()
            prog.unpersist()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.python.filterPushdown.enabled")
        else:
            spark.conf.set("spark.sql.python.filterPushdown.enabled", prev)

    # (c) the batch CDF relation's signed fold over the delete-and-
    # rename window == read(end) minus read(start); the rename keeps
    # column positions, so the start snapshot takes the end's names
    v_end = t.latest_version()
    cols = t.read(v_end).columns
    sign = F.when(F.col("_change_type") == "delete", -1).otherwise(1)
    fold = (
        spark.read.format("versioned_table")
        .option("path", path)
        .option("readChangeFeed", "true")
        .option("startingVersion", v_full)
        .option("endingVersion", v_end)
        .load()
        .groupBy(*cols)
        .agg(F.sum(sign).alias("n"))
        .filter("n != 0")
    )
    snap = (
        t.read(v_end).withColumn("n", F.lit(1))
        .unionAll(t.read(v_full).toDF(*cols).withColumn("n", F.lit(-1)))
        .groupBy(*cols)
        .agg(F.sum("n").alias("n"))
        .filter("n != 0")
    )
    fold = fold.persist()
    snap = snap.persist()
    try:
        cdiff = fold.exceptAll(snap).unionAll(snap.exceptAll(fold))
        if cdiff.limit(1).count():
            raise RuntimeError(
                "batch CDF fold diverged from read(end) minus read(start)"
            )
    finally:
        fold.unpersist()
        snap.unpersist()

    # the oracled aggregate runs THROUGH the SQL front door
    t.to_view("t_sql_select")
    return spark.sql(
        "SELECT o_orderpriority AS prio, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(COUNT(DISTINCT cust) AS BIGINT) AS ncust, "
        "SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS total2 "
        "FROM t_sql_select GROUP BY o_orderpriority"
    )


@query(
    "p_versioned_spj_bucket_join",
    oracle="""
    SELECT c.c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(o.o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS total2
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    doc=(
        "STORAGE-PARTITIONED JOIN (round 13, VERDICT r12 #4 — the "
        "Iceberg SPJ role): orders and customer land in two "
        "VersionedTables hidden-partitioned bucket(8, cust) on the "
        "join key; storage_partitioned_join plans per-bucket "
        "co-partitions from the part: manifest tuples alone (no scan) "
        "and joins each bucket pair with the smaller side broadcast — "
        "asserted in-query: the physical plan contains ZERO table "
        "shuffle exchanges, and the result equals the plain "
        "shuffled join (exceptAll both ways). At 100 TB this replaces "
        "a 2×table shuffle with per-bucket broadcasts of min(side)/n."
    ),
    tags=("pipeline", "versioned", "join", "spj"),
)
def p_versioned_spj_bucket_join(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.spj import (
        assert_no_shuffle,
        storage_partitioned_join,
    )
    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"), "o_orderkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"), "c_mktsegment"
    )
    base = os.path.basename(sf_dir.rstrip("/"))
    ws = _tmp(f"versioned_spj_{base}")
    shutil.rmtree(ws, ignore_errors=True)
    to = VersionedTable(
        spark, os.path.join(ws, "orders"), partition_spec=["bucket(8, cust)"]
    )
    tc = VersionedTable(
        spark, os.path.join(ws, "cust"), partition_spec=["bucket(8, cust)"]
    )
    to.commit_append(orders)
    tc.commit_append(cust)
    j = storage_partitioned_join(to, tc, "cust")
    assert_no_shuffle(j)
    plain = to.read().join(tc.read(), "cust")
    diff = j.exceptAll(plain).unionAll(plain.exceptAll(j))
    if diff.limit(1).count():
        raise RuntimeError("SPJ result diverged from the plain join")
    return j.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
        ).alias("total2"),
    )


@query(
    "p_versioned_generated_columns",
    oracle="""
    SELECT substring(o_orderpriority, 1, 1) AS prio_code,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS total2
    FROM orders GROUP BY substring(o_orderpriority, 1, 1)
    """,
    doc=(
        "GENERATED COLUMNS (round 13, VERDICT r12 #5 — Delta GENERATED "
        "ALWAYS AS): prio_code derives from o_orderpriority. The first "
        "chunk commits BEFORE the column exists (backfill: the scan "
        "computes the expression per pre-add file, like initial "
        "defaults); later chunks commit one priority per file and the "
        "write path MATERIALIZES the column, so its distinct-set stats "
        "land in the manifest — asserted in-query: prune_files_"
        "condition on the GENERATED column skips every other "
        "priority's files; a staged frame carrying a wrong generated "
        "value raises before anything lands. The returned per-code "
        "aggregate reads through the backfill+materialized mix and is "
        "oracled against DuckDB computing the expression directly."
    ),
    tags=("pipeline", "versioned", "schema"),
)
def p_versioned_generated_columns(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import (
        ConstraintViolationError,
        VersionedTable,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    base = os.path.basename(sf_dir.rstrip("/"))
    ws = _tmp(f"versioned_gencol_{base}")
    shutil.rmtree(ws, ignore_errors=True)
    t = VersionedTable(spark, ws, distinct_index_cols=("prio_code",))
    prios = [r[0] for r in orders.select("o_orderpriority").distinct().collect()]
    prios.sort()
    first, rest = prios[0], prios[1:]
    # chunk 1 predates the column: exercised as BACKFILL
    t.commit_append(
        orders.filter(F.col("o_orderpriority") == first).coalesce(1)
    )
    t.add_generated_column(
        "prio_code", "string", "substring(o_orderpriority, 1, 1)"
    )
    for p in rest:  # one priority per file: prunable distinct stats
        t.commit_append(
            orders.filter(F.col("o_orderpriority") == p).coalesce(1)
        )
    probe = rest[-1][0]  # first char of a post-add priority
    cand, skipped = t.prune_files_condition(f"prio_code = '{probe}'")
    if not (skipped >= len(rest) - 1 and len(cand) < len(t.manifest()["files"])):
        raise RuntimeError(
            f"generated-column pruning failed: kept {len(cand)} of "
            f"{len(t.manifest()['files'])} files (skipped {skipped})"
        )
    # staged-row validation: a wrong provided value must raise
    bad = spark.createDataFrame(
        [(-1, "1-URGENT", 1.0, "9")],
        "o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE, "
        "prio_code STRING",
    )
    try:
        t.commit_append(bad)
        raise RuntimeError("wrong generated value did not raise")
    except ConstraintViolationError:
        pass
    return t.read().groupBy("prio_code").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
        ).alias("total2"),
    )


@query(
    "p_catalog_sql_ctas",
    oracle="""
    WITH base AS (
      SELECT o_orderpriority AS prio, COUNT(*) AS n0
      FROM orders GROUP BY o_orderpriority
    ), with_txn AS (
      SELECT prio, n0 FROM base
      UNION ALL SELECT '9-TXN', 1
    ), now AS (
      SELECT o_orderpriority AS prio, COUNT(*) AS n_now
      FROM orders WHERE o_orderkey % 10 != 3 GROUP BY o_orderpriority
    )
    SELECT w.prio, CAST(w.n0 AS BIGINT) AS n0,
           CAST(COALESCE(now.n_now, 0) AS BIGINT) AS n_now
    FROM with_txn w LEFT JOIN now ON w.prio = now.prio
    """,
    doc=(
        "CATALOG SQL (round 13, VERDICT r12 #6): CREATE TABLE AS "
        "SELECT runs over catalog-PINNED views (snapshot-consistent "
        "CTAS), and execute_script batches the statements between "
        "BEGIN and COMMIT onto ONE CatalogTransaction — a cross-table "
        "DELETE + INSERT lands all-or-nothing at a single catalog "
        "commit point (and a ROLLBACK script leaves nothing, asserted "
        "in-query). The result joins the CTAS-time rollup against the "
        "post-transaction live counts, both read through catalog pins."
    ),
    tags=("pipeline", "catalog", "sql"),
)
def p_catalog_sql_ctas(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.table_catalog import TableCatalog

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    base = os.path.basename(sf_dir.rstrip("/"))
    ws = _tmp(f"catalog_sql_{base}")
    shutil.rmtree(ws, ignore_errors=True)
    cat = TableCatalog(spark, ws)
    cat.execute_sql("CREATE TABLE orders_t")
    cat.table("orders_t").commit_append(orders)
    cat.sync("orders_t")
    cat.execute_sql(
        "CREATE TABLE pri_counts AS SELECT o_orderpriority AS prio, "
        "COUNT(*) AS n0 FROM orders_t GROUP BY o_orderpriority"
    )
    # cross-table all-or-nothing script
    cat.execute_script(
        "BEGIN; "
        "DELETE FROM orders_t WHERE o_orderkey % 10 = 3; "
        "INSERT INTO pri_counts (prio, n0) VALUES ('9-TXN', CAST(1 AS BIGINT)); "
        "COMMIT"
    )
    # a rolled-back script must leave NOTHING
    n_before = cat.read("pri_counts").count()
    cat.execute_script("BEGIN; DELETE FROM pri_counts WHERE n0 >= 0; ROLLBACK")
    if cat.read("pri_counts").count() != n_before:
        raise RuntimeError("ROLLBACK leaked catalog state")
    return cat.execute_sql(
        "SELECT p.prio, p.n0, "
        "CAST(COALESCE(now.n_now, 0) AS BIGINT) AS n_now "
        "FROM pri_counts p LEFT JOIN ("
        "  SELECT o_orderpriority AS prio, COUNT(*) AS n_now "
        "  FROM orders_t GROUP BY o_orderpriority"
        ") now ON p.prio = now.prio"
    )


@query(
    "p_mv_autorewrite_realtime",
    oracle="""
    WITH live AS (
      SELECT o_orderpriority AS prio,
             CAST(FLOOR(o_totalprice * 1000000.0 + 0.5) AS BIGINT) AS fx
      FROM orders WHERE o_orderkey % 7 != 3
    )
    SELECT prio, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(fx) AS BIGINT) AS rev_fx,
           CAST(FLOOR(SUM(fx) / COUNT(*)) AS BIGINT) AS avg_fx,
           CAST(MIN(fx) AS BIGINT) AS lo_fx,
           CAST(MAX(fx) AS BIGINT) AS hi_fx
    FROM live GROUP BY prio
    """,
    doc=(
        "MATERIALIZED-VIEW AUTO-REWRITE + REAL-TIME SERVING (round 13 "
        "headline): a ContinuousAggregate rollup of orders by priority "
        "refreshes after the FIRST chunk only; two more appends and a "
        "predicate DELETE land unfolded. MaterializedViewCatalog."
        "answer_sql routes the canonical aggregate to the rollup "
        "(asserted in-query: used_view=True AND the view bookmark is "
        "strictly behind the source head, so read_realtime's CDC fold "
        "— signed deltas + the key-scoped extremum rescan — did the "
        "freshness work; a non-matching GROUP BY falls back with "
        "used_view=False and bit-identical fixed-point results, also "
        "asserted). The served answer must equal DuckDB recomputing "
        "the aggregate over the final live rows — fresh data at "
        "rollup+delta cost, never a table rescan."
    ),
    tags=("pipeline", "versioned", "mv"),
)
def p_mv_autorewrite_realtime(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.incremental_agg import (
        ContinuousAggregate,
    )
    from unity_to_bigquery_spark.plans.mv_rewrite import (
        MaterializedViewCatalog,
    )
    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    base = os.path.basename(sf_dir.rstrip("/"))
    ws = _tmp(f"mv_rewrite_{base}")
    shutil.rmtree(ws, ignore_errors=True)
    t = VersionedTable(spark, os.path.join(ws, "src"))
    mv = ContinuousAggregate(
        spark, t, os.path.join(ws, "agg"), "o_orderpriority",
        measures={"rev_fx": "o_totalprice"},
        min_measures={"lo_fx": "o_totalprice"},
        max_measures={"hi_fx": "o_totalprice"},
        handle_deletes=True,
    )
    t.commit_append(orders.filter(F.col("o_orderkey") % 3 == 0))
    mv.refresh()  # everything after this stays UNFOLDED
    t.commit_append(orders.filter(F.col("o_orderkey") % 3 == 1))
    t.commit_append(orders.filter(F.col("o_orderkey") % 3 == 2))
    t.delete_rows_where("o_orderkey % 7 = 3")
    cat = MaterializedViewCatalog(spark)
    cat.register_table("orders_v", t)
    cat.register_view("orders_by_prio", "orders_v", mv)
    sql = (
        "SELECT o_orderpriority, COUNT(*) AS n, "
        "SUM(o_totalprice) AS rev_fx, AVG(o_totalprice) AS avg_fx, "
        "MIN(o_totalprice) AS lo_fx, MAX(o_totalprice) AS hi_fx "
        "FROM orders_v GROUP BY o_orderpriority"
    )
    served, used = cat.answer_sql(sql)
    if not used or mv.last_refreshed() >= t.latest_version():
        raise RuntimeError(
            f"rewrite did not exercise realtime serving (used={used}, "
            f"bookmark={mv.last_refreshed()}, head={t.latest_version()})"
        )
    other, used_other = cat.answer_sql(
        "SELECT o_orderkey, COUNT(*) AS n FROM orders_v GROUP BY o_orderkey"
    )
    if used_other:
        raise RuntimeError("non-matching shape must fall back")
    fell, used_fb = MaterializedViewCatalog(spark), None
    fell.register_table("orders_v", t)
    direct, used_fb = fell.answer_sql(sql)
    if used_fb or sorted(map(tuple, served.collect())) != sorted(
        map(tuple, direct.collect())
    ):
        raise RuntimeError("rewrite and direct scan diverged")
    return served.select(
        F.col("o_orderpriority").alias("prio"),
        "n", "rev_fx", "avg_fx", "lo_fx", "hi_fx",
    )


@query(
    "p_versioned_cluster_string",
    oracle="""
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents WHERE lang = 'fr' GROUP BY source
    """,
    doc=(
        "STRING Z-ORDER (round 13): cluster_by on (lang, n_chars) — "
        "the string dimension buckets by FREQUENCY RANK over the "
        "distinct set (global_enumerate boundaries, codegen comparison "
        "chain; width buckets don't exist for strings) interleaved "
        "with the numeric width buckets. Asserted in-query: after the "
        "rewrite, footer-stats pruning on lang = 'fr' skips files "
        "(it skips NOTHING before — appends are doc_id-ordered so "
        "every file spans all langs), and the pruned read equals the "
        "full filter. Returned per-source rollup of the pruned read "
        "is oracled against DuckDB on the raw table."
    ),
    tags=("pipeline", "versioned", "clustering"),
)
def p_versioned_cluster_string(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    base = os.path.basename(sf_dir.rstrip("/"))
    ws = _tmp(f"versioned_cluster_str_{base}")
    shutil.rmtree(ws, ignore_errors=True)
    t = VersionedTable(spark, ws)
    n = docs.count()
    t.commit_append(docs.filter(F.col("doc_id") % 2 == 0).coalesce(1))
    t.commit_append(docs.filter(F.col("doc_id") % 2 == 1).coalesce(1))
    _, skipped_before = t.prune_files("lang", "fr", "fr")
    if skipped_before != 0:
        raise RuntimeError("fixture files pruned before clustering?")
    t.cluster_by(["lang", "n_chars"], target_files=8)
    if t.read().count() != n:
        raise RuntimeError("cluster_by changed row count")
    _, skipped = t.prune_files("lang", "fr", "fr")
    if skipped == 0:
        raise RuntimeError("string clustering enabled no pruning")
    pruned = t.read_pruned("lang", "fr", "fr").filter(F.col("lang") == "fr")
    return pruned.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("chars"),
    )


@query(
    "p_mv_rollup_subset",
    oracle="""
    WITH live AS (
      SELECT o_orderpriority AS prio, o_orderstatus AS status,
             CAST(FLOOR(o_totalprice * 1000000.0 + 0.5) AS BIGINT) AS fx
      FROM orders WHERE o_orderkey % 11 != 5
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(fx) AS BIGINT) AS rev_fx,
           CAST(MIN(fx) AS BIGINT) AS lo_fx,
           CAST(MAX(fx) AS BIGINT) AS hi_fx
    FROM live GROUP BY status
    """,
    doc=(
        "COMPOSITE-KEY ROLLUP + DIM-SUBSET REWRITE (round 13): the "
        "ContinuousAggregate is keyed on (o_orderpriority, "
        "o_orderstatus) — composite dims over a synthesized merge key "
        "— refreshed once, then an append and a predicate DELETE land "
        "unfolded. The query asks GROUP BY o_orderstatus ONLY: "
        "answer_sql matches the dim SUBSET and re-aggregates the "
        "rollup (COUNT=SUM(n), SUM=SUM, MIN/MAX of partial extrema — "
        "rollup-sized input, never the base table), served REAL-TIME. "
        "Asserted in-query: used_view=True, bookmark strictly behind "
        "head, and the full-dims GROUP BY also serves (exact-set "
        "match) with per-tuple rows ≡ a direct fixed-point groupBy."
    ),
    tags=("pipeline", "versioned", "mv"),
)
def p_mv_rollup_subset(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.incremental_agg import (
        ContinuousAggregate,
    )
    from unity_to_bigquery_spark.plans.mv_rewrite import (
        MaterializedViewCatalog,
    )
    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice"
    )
    base = os.path.basename(sf_dir.rstrip("/"))
    ws = _tmp(f"mv_subset_{base}")
    shutil.rmtree(ws, ignore_errors=True)
    t = VersionedTable(spark, os.path.join(ws, "src"))
    mv = ContinuousAggregate(
        spark, t, os.path.join(ws, "agg"),
        ["o_orderpriority", "o_orderstatus"],
        measures={"rev_fx": "o_totalprice"},
        min_measures={"lo_fx": "o_totalprice"},
        max_measures={"hi_fx": "o_totalprice"},
        handle_deletes=True,
    )
    t.commit_append(orders.filter(F.col("o_orderkey") % 2 == 0))
    mv.refresh()  # everything below stays UNFOLDED
    t.commit_append(orders.filter(F.col("o_orderkey") % 2 == 1))
    t.delete_rows_where("o_orderkey % 11 = 5")
    cat = MaterializedViewCatalog(spark)
    cat.register_table("orders_v", t)
    cat.register_view("by_prio_status", "orders_v", mv)
    # full-dims serve: per-tuple rows must equal the direct groupBy
    full_sql = (
        "SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n "
        "FROM orders_v GROUP BY o_orderpriority, o_orderstatus"
    )
    full, used_full = cat.answer_sql(full_sql)
    fb = MaterializedViewCatalog(spark)
    fb.register_table("orders_v", t)
    direct, _ = fb.answer_sql(full_sql)
    if not used_full or sorted(map(tuple, full.collect())) != sorted(
        map(tuple, direct.collect())
    ):
        raise RuntimeError("full-dims serve diverged from direct scan")
    served, used = cat.answer_sql(
        "SELECT o_orderstatus, COUNT(*) AS n, SUM(o_totalprice) AS rev_fx, "
        "MIN(o_totalprice) AS lo_fx, MAX(o_totalprice) AS hi_fx "
        "FROM orders_v GROUP BY o_orderstatus"
    )
    if not used or mv.last_refreshed() >= t.latest_version():
        raise RuntimeError(
            f"subset rewrite did not serve realtime (used={used})"
        )
    # a WHERE on a view dim (not in the group set) also serves from
    # the rollup; a WHERE on a measure column must fall back
    wsql = (
        "SELECT o_orderstatus, COUNT(*) AS n FROM orders_v "
        "WHERE o_orderpriority = '1-URGENT' GROUP BY o_orderstatus"
    )
    wdf, wused = cat.answer_sql(wsql)
    wdirect, _ = fb.answer_sql(wsql)
    if not wused or sorted(map(tuple, wdf.collect())) != sorted(
        map(tuple, wdirect.collect())
    ):
        raise RuntimeError("WHERE-on-dim rewrite diverged or fell back")
    _, mused = cat.answer_sql(
        "SELECT o_orderstatus, COUNT(*) AS n FROM orders_v "
        "WHERE o_totalprice > 0 GROUP BY o_orderstatus"
    )
    if mused:
        raise RuntimeError("WHERE on a measure column must fall back")
    return served.select(
        F.col("o_orderstatus").alias("status"),
        "n", "rev_fx", "lo_fx", "hi_fx",
    )


@query(
    "p_versioned_expectations",
    oracle="""
    WITH live AS (
      SELECT o_orderpriority AS tag FROM orders
      WHERE o_orderpriority <> '5-LOW' AND o_orderstatus <> 'P'
    ), quar AS (
      SELECT CASE WHEN o_orderstatus = 'P'
                  THEN 'prio_ok,status_ok' ELSE 'prio_ok' END AS tag
      FROM orders WHERE o_orderpriority = '5-LOW'
    )
    SELECT bucket, tag, CAST(COUNT(*) AS BIGINT) AS n FROM (
      SELECT 'live' AS bucket, tag FROM live
      UNION ALL SELECT 'quarantine' AS bucket, tag FROM quar
    ) GROUP BY bucket, tag
    """,
    doc=(
        "INGEST EXPECTATIONS + QUARANTINE (round 13 — Delta Live "
        "Tables expect_or_drop / expect-with-quarantine): two "
        "expectations gate the orders ingest — prio_ok (violations "
        "QUARANTINE to the <root>/quarantine sub-table, tagged with "
        "every violated name) and status_ok (violations DROP). Two "
        "batches commit; the result unions the LIVE per-priority "
        "counts with the QUARANTINE per-tag counts, both read back "
        "from versioned storage and oracled against DuckDB applying "
        "the same predicates to the raw table. Drop-only rows appear "
        "nowhere; doubly-bad rows carry both tags; the clean-batch "
        "probe publishes no empty quarantine commits (asserted "
        "in-query)."
    ),
    tags=("pipeline", "versioned", "quality"),
)
def p_versioned_expectations(spark, sf_dir):
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderstatus"
    )
    base = os.path.basename(sf_dir.rstrip("/"))
    ws = _tmp(f"versioned_expect_{base}")
    shutil.rmtree(ws, ignore_errors=True)
    t = VersionedTable(spark, ws)
    t.add_expectation(
        "prio_ok", "o_orderpriority <> '5-LOW'", on_violation="quarantine"
    )
    t.add_expectation(
        "status_ok", "o_orderstatus <> 'P'", on_violation="drop"
    )
    t.commit_append(orders.filter(F.col("o_orderkey") % 2 == 0))
    t.commit_append(orders.filter(F.col("o_orderkey") % 2 == 1))
    q = t.quarantine_table()
    qv = q.latest_version()
    # a fully-clean batch must not publish an empty quarantine commit
    t.commit_append(
        orders.filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderstatus") == "F")
        ).limit(0)
    )
    if q.latest_version() != qv:
        raise RuntimeError("clean batch published an empty quarantine commit")
    live = t.read().select(
        F.lit("live").alias("bucket"),
        F.col("o_orderpriority").alias("tag"),
    )
    quar = q.read().select(
        F.lit("quarantine").alias("bucket"),
        F.col("__violated").alias("tag"),
    )
    return live.unionByName(quar).groupBy("bucket", "tag").agg(
        F.count(F.lit(1)).alias("n")
    )
