"""Batch half of the versioned_table Python Data Source (round 13,
VERDICT r12 #1): snapshot/time-travel/change-feed relations + the
VersionedTable.sql()/to_view() SQL front door."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from unity_to_bigquery_spark.plans.versioned import VersionedTable
from unity_to_bigquery_spark.sources.versioned_stream import register


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "tbl")


def _mk(spark, root, nchunks=3, rows_per=8):
    t = VersionedTable(spark, root)
    for c in range(nchunks):
        t.commit_append(
            spark.createDataFrame(
                [(c * 100 + i, f"tag{c}", float(i)) for i in range(rows_per)],
                "k INT, tag STRING, x DOUBLE",
            ).coalesce(1)
        )
    return t


def _ds(spark, root, **opts):
    register(spark)
    r = spark.read.format("versioned_table").option("path", root)
    for k, v in opts.items():
        r = r.option(k, str(v))
    return r.load()


def test_batch_snapshot_matches_programmatic(spark, root):
    """Plain DSv2 snapshot ≡ read(): MoR equality + positional deletes,
    column rename, initial default — the full _scan semantics set."""
    t = _mk(spark, root)
    t.delete_rows_where("k = 3", mode="mor")  # positional (DV sidecar)
    t.commit_delete_where(spark.createDataFrame([(102,)], "k INT"), "k")
    t.add_column("note", "string", default="'n/a'")
    t.commit_append(
        spark.createDataFrame(
            [(999, "z", 0.0, "real")], "k INT, tag STRING, x DOUBLE, note STRING"
        ).coalesce(1)
    )
    t.rename_column("tag", "label")
    ds = _ds(spark, root)
    assert ds.columns == ["k", "label", "x", "note"]
    assert {tuple(r) for r in ds.collect()} == {
        tuple(r) for r in t.read().collect()
    }


def test_batch_version_and_timestamp_asof(spark, root):
    t = _mk(spark, root, nchunks=2)
    v1_ts = t.manifest(1)["ts"]
    assert _ds(spark, root, versionAsOf=1).count() == t.read(1).count() == 8
    assert _ds(spark, root, timestampAsOf=v1_ts).count() == 8
    with pytest.raises(Exception, match="mutually exclusive"):
        _ds(spark, root, versionAsOf=1, timestampAsOf=v1_ts).count()


def test_batch_pushdown_prunes_partitions(spark, root):
    """pushdown=true narrows the planned InputPartitions via manifest
    range stats; rows stay exact (Spark re-applies every filter).
    pack_rows=0 disables the round-14 multi-file packing so partition
    count == planned FILE count and pruning is directly assertable."""
    t = _mk(spark, root, nchunks=4)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        full = _ds(spark, root, pushdown="true", pack_rows=0)
        assert full.rdd.getNumPartitions() == 4
        # inclusive bounds: strict < conservatively prunes as <= (rule
        # 30 — fixture MIN edges), so <= 199 is the 1-file predicate
        pruned = _ds(spark, root, pushdown="true", pack_rows=0).filter(
            (F.col("k") >= 100) & (F.col("k") <= 199)
        )
        assert pruned.rdd.getNumPartitions() == 1
        assert sorted(r.k for r in pruned.collect()) == [
            100 + i for i in range(8)
        ]
        # IN-list + equality paths
        eq = _ds(spark, root, pushdown="true", pack_rows=0).filter(
            F.col("k") == 205
        )
        assert eq.rdd.getNumPartitions() == 1
        assert [r.k for r in eq.collect()] == [205]
        inl = _ds(spark, root, pushdown="true", pack_rows=0).filter(
            F.col("k").isin(5, 305)
        )
        assert inl.rdd.getNumPartitions() == 2
        # default packing composes WITH pruning: the two stats-
        # surviving tiny files pack into ONE planned partition, and
        # rows stay exact
        packed = _ds(spark, root, pushdown="true").filter(
            F.col("k").isin(5, 305)
        )
        assert packed.rdd.getNumPartitions() == 1
        assert sorted(r.k for r in packed.collect()) == [5, 305]
    finally:
        spark.conf.unset("spark.sql.python.filterPushdown.enabled")


def test_batch_multi_file_partition_packing(spark, root):
    """Round 14 (VERDICT r13 #2): per-file specs bin-pack into
    row-budgeted InputPartitions — partition count tracks rows, not
    file count — while rows stay exactly the per-file union (MoR
    deletes, rename, evolution all apply per file inside one task)."""
    t = _mk(spark, root, nchunks=6)
    t.delete_rows_where("k = 3", mode="mor")
    t.commit_delete_where(spark.createDataFrame([(102,)], "k INT"), "k")
    t.rename_column("tag", "label")
    expect = {tuple(r) for r in t.read().collect()}
    # default budget (1M rows): 6 tiny files -> ONE planned partition
    ds = _ds(spark, root)
    assert ds.rdd.getNumPartitions() == 1
    assert {tuple(r) for r in ds.collect()} == expect
    # explicit budget: ~2 files per bin (8192 open-charge + 8 rows)
    ds2 = _ds(spark, root, pack_rows=17000)
    assert ds2.rdd.getNumPartitions() == 3
    assert {tuple(r) for r in ds2.collect()} == expect
    # packing off: one partition per live file (pre-r14 layout)
    ds0 = _ds(spark, root, pack_rows=0)
    assert ds0.rdd.getNumPartitions() == 6
    assert {tuple(r) for r in ds0.collect()} == expect
    # CDF relation packs too, and stays exact
    cdf = _ds(spark, root, readChangeFeed="true", startingVersion=0)
    bat = t.changes_with_type(0)
    assert sorted(map(tuple, cdf.collect())) == sorted(
        map(tuple, bat.collect())
    )
    assert cdf.rdd.getNumPartitions() < _ds(
        spark, root, readChangeFeed="true", startingVersion=0, pack_rows=0
    ).rdd.getNumPartitions()


def test_batch_cdf_matches_changes_with_type(spark, root):
    t = _mk(spark, root, nchunks=2)
    v0 = t.latest_version()
    t.commit_delete_where(spark.createDataFrame([(3,), (101,)], "k INT"), "k")
    t.commit_append(
        spark.createDataFrame([(500, "new", 1.0)], "k INT, tag STRING, x DOUBLE")
    )
    cdf = _ds(spark, root, readChangeFeed="true", startingVersion=v0)
    bat = t.changes_with_type(v0)
    assert sorted(map(tuple, cdf.collect())) == sorted(
        map(tuple, bat.collect())
    )
    # bounded window + empty-window sentinel
    w = _ds(
        spark, root, readChangeFeed="true",
        startingVersion=v0, endingVersion=v0 + 1,
    )
    assert sorted(map(tuple, w.collect())) == sorted(
        map(tuple, t.changes_with_type(v0, v0 + 1).collect())
    )
    empty = _ds(
        spark, root, readChangeFeed="true",
        startingVersion=v0, endingVersion=v0,
    )
    assert empty.count() == 0


def test_batch_branch_read(spark, root):
    t = _mk(spark, root, nchunks=1)
    t.create_branch("wap")
    t.branch("wap").commit_append(
        spark.createDataFrame([(77, "b", 7.0)], "k INT, tag STRING, x DOUBLE")
    )
    main = _ds(spark, root)
    br = _ds(spark, root, branch="wap")
    assert main.count() == 8 and br.count() == 9
    assert 77 in {r.k for r in br.collect()}


def test_sql_front_door_time_travel(spark, root):
    t = _mk(spark, root, nchunks=2)
    # VERSION AS OF rewrite + bare reference in one statement
    got = t.sql(
        "SELECT (SELECT COUNT(*) FROM t VERSION AS OF 1) AS old, "
        "COUNT(*) AS new FROM t"
    ).first()
    assert (got.old, got.new) == (8, 16)
    # TIMESTAMP AS OF (epoch literal)
    ts = t.manifest(1)["ts"]
    assert t.sql(f"SELECT COUNT(*) AS n FROM t TIMESTAMP AS OF {ts}").first().n == 8
    # a quoted literal containing the phrase never rewrites
    lit = t.sql("SELECT 't VERSION AS OF 1' AS s FROM t LIMIT 1").first().s
    assert lit == "t VERSION AS OF 1"
    # to_view is a PINNED snapshot
    t.to_view("pinned_v")
    t.commit_append(
        spark.createDataFrame([(9, "q", 0.0)], "k INT, tag STRING, x DOUBLE")
    )
    assert spark.sql("SELECT COUNT(*) AS n FROM pinned_v").first().n == 16
    assert t.table_changes(2).count() == 1


def test_batch_arrow_fast_path_no_fallback(spark, root):
    """The Arrow executor handles the full semantics set — eq-deletes
    (null keys never match), positional deletes, rename, additive
    evolution NULL-fill, initial default, int→long promotion — and
    its RecordBatches equal the programmatic read()."""
    from unity_to_bigquery_spark.sources.versioned_batch import (
        make_batch_reader,
    )

    t = _mk(spark, root)
    t.delete_rows_where("k = 3", mode="mor")  # positional
    t.commit_delete_where(spark.createDataFrame([(102,)], "k INT"), "k")
    t.add_column("note", "string", default="'n/a'")
    t.commit_append(
        spark.createDataFrame(
            [(999, "z", 0.0, "real")],
            "k INT, tag STRING, x DOUBLE, note STRING",
        ).coalesce(1)
    )
    t.rename_column("tag", "label")
    t.promote_column("k", "bigint")
    reader = make_batch_reader({"path": root}, t.read().schema)
    assert reader._pa_schema is not None
    rows = set()
    for part in reader.partitions():
        for batch in reader.read(part):
            rows |= {tuple(r.values()) for r in batch.to_pylist()}
    assert rows == {tuple(r) for r in t.read().collect()}


def test_batch_empty_snapshot_and_schemaless(spark, root, tmp_path):
    t = _mk(spark, root, nchunks=1)
    t.delete_rows_where("k >= 0", mode="rewrite")
    ds = _ds(spark, root)
    assert ds.count() == 0 and ds.columns == ["k", "tag", "x"]
    VersionedTable(spark, str(tmp_path / "never"))
    with pytest.raises(Exception, match="empty/schemaless"):
        _ds(spark, str(tmp_path / "never")).count()


def test_nested_struct_rename_and_default_through_dsv2(spark, root, tmp_path):
    """A struct member renamed through the nested field-ID mapping and a
    struct column with an initial default read the same through the
    batch relation, an availableNow stream and the change feed as
    through read() / changes_with_type()."""
    t = VersionedTable(spark, root)
    t.commit_append(
        spark.createDataFrame(
            [(i, (i * 10, f"n{i}")) for i in range(4)],
            "k INT, props STRUCT<val: INT, note: STRING>",
        ).coalesce(1)
    )
    t.rename_nested_field("props", "val", "units")
    t.commit_append(
        spark.createDataFrame(
            [(10 + i, (i * 100, None)) for i in range(3)] + [(20, None)],
            "k INT, props STRUCT<units: INT, note: STRING>",
        ).coalesce(1)
    )
    t.add_column(
        "meta", "struct<a:int,b:string>",
        default="named_struct('a', 7, 'b', 'x')",
    )
    t.commit_append(
        spark.createDataFrame(
            [(30, (1, "z"), (8, "y")), (31, (2, None), None)],
            "k INT, props STRUCT<units: INT, note: STRING>, "
            "meta STRUCT<a: INT, b: STRING>",
        ).coalesce(1)
    )

    def canon(df):
        return sorted(repr(r) for r in df.collect())

    want = canon(t.read())
    assert t.read().filter("k = 2").first().props.units == 20
    assert t.read().filter("k = 2").first().meta.a == 7
    assert canon(_ds(spark, root)) == want
    q = (
        spark.readStream.format("versioned_table")
        .option("path", root)
        .load()
        .writeStream.format("memory")
        .queryName("nested_struct_dsv2")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert canon(spark.table("nested_struct_dsv2")) == want
    # a delete after the default: retractions of pre-default rows
    # carry the default, like the batch feed
    t.commit_delete_where(spark.createDataFrame([(1,), (31,)], "k INT"), "k")
    cdf = _ds(spark, root, readChangeFeed="true", startingVersion=0)
    assert t.changes_with_type(0).columns == cdf.columns
    assert canon(cdf) == canon(t.changes_with_type(0))


def test_reader_rejects_schema_without_arrow_type(root):
    """A declared type with no Arrow equivalent fails reader
    construction with an error naming the column and type."""
    from pyspark.sql.types import (
        IntegerType,
        StructField,
        StructType,
        YearMonthIntervalType,
    )

    from unity_to_bigquery_spark.sources.versioned_batch import (
        make_batch_reader,
    )

    schema = StructType([
        StructField("k", IntegerType()),
        StructField("span", YearMonthIntervalType()),
    ])
    with pytest.raises(
        ValueError, match="column 'span' of type interval year to month"
    ):
        make_batch_reader({"path": root}, schema)


def test_readers_reject_files_predating_a_generated_column(spark, root):
    """A live file written before ``add_generated_column`` holds no value
    for the column; the DSv2 readers cannot evaluate the expression, so
    reader construction names the column instead of reading NULL.
    Rewritten files carry the value and read like ``read()``."""
    from unity_to_bigquery_spark.sources.versioned_batch import (
        make_batch_reader,
    )
    from unity_to_bigquery_spark.sources.versioned_stream import (
        VersionedTableStreamReader,
    )

    t = VersionedTable(spark, root)
    t.commit_append(spark.createDataFrame([(1, 2), (3, 4)], "a INT, b INT"))
    g = t.add_generated_column("s", "int", "a + b")
    schema = t.read().schema
    with pytest.raises(ValueError, match="generated column 's'"):
        make_batch_reader({"path": root}, schema)
    with pytest.raises(ValueError, match="generated column 's'"):
        VersionedTableStreamReader({"path": root}, schema)
    # a stream starting at the generated column's commit reads no
    # earlier file
    VersionedTableStreamReader({"path": root, "starting_version": str(g)}, schema)
    t.compact()
    want = sorted(map(tuple, t.read().collect()))
    assert want == [(1, 2, 3), (3, 4, 7)]
    assert sorted(map(tuple, _ds(spark, root).collect())) == want
