"""Full CDC with retractions (VersionedTable.changes_with_type) and the
signed ContinuousAggregate fold — the Delta CDF `_change_type` protocol
(VERDICT r3 next-round #1). Invariant exercised throughout: folding the
feed with sign(+1/-1) from version 0 reproduces the live snapshot's
aggregates exactly, commit by commit."""

from __future__ import annotations

import pytest

from unity_to_bigquery_spark.plans.versioned import VersionedTable

CT = VersionedTable.CDC_TYPE_COL
CV = VersionedTable.CDC_VERSION_COL


def _feed(t, since=0, to=None):
    return sorted(
        tuple(r)
        for r in t.changes_with_type(since, to)
        .select("k", "v", CT, CV)
        .collect()
    )


def _df(spark, pairs):
    return spark.createDataFrame(pairs, "k INT, v STRING")


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "tbl")


def test_appends_emit_inserts_with_commit_version(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b")]))
    t.commit_append(_df(spark, [(3, "c")]))
    assert _feed(t) == [
        (1, "a", "insert", 1),
        (2, "b", "insert", 1),
        (3, "c", "insert", 2),
    ]
    # windowed read: only the second commit
    assert _feed(t, since=1) == [(3, "c", "insert", 2)]


def test_delete_where_emits_retraction_of_then_live_rows(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    t.commit_delete_where(spark.createDataFrame([(2,)], "k INT"), "k")
    assert _feed(t, since=1) == [(2, "b", "delete", 2)]
    # a second delete of the SAME key retracts nothing (already dead)
    t.commit_delete_where(spark.createDataFrame([(2,), (3,)], "k INT"), "k")
    assert _feed(t, since=2) == [(3, "c", "delete", 3)]


def test_reinsert_after_delete_sequences_correctly(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a")]))
    t.commit_delete_where(spark.createDataFrame([(1,)], "k INT"), "k")
    t.commit_append(_df(spark, [(1, "a2")]))
    assert _feed(t) == [
        (1, "a", "delete", 2),
        (1, "a", "insert", 1),
        (1, "a2", "insert", 3),
    ]
    # net fold == live snapshot
    assert sorted(tuple(r) for r in t.read().collect()) == [(1, "a2")]


def test_rewrite_commits_emit_delete_plus_insert(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b")]))
    t.commit_overwrite(_df(spark, [(2, "b2"), (3, "c")]))
    assert _feed(t, since=1) == [
        (1, "a", "delete", 2),
        (2, "b", "delete", 2),
        (2, "b2", "insert", 2),
        (3, "c", "insert", 2),
    ]


def test_compact_and_cluster_emit_nothing(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a")]))
    t.commit_append(_df(spark, [(2, "b")]))
    v = t.compact()
    assert _feed(t, since=2, to=v) == []
    t2 = VersionedTable(spark, root + "2")
    t2.commit_append(_df(spark, [(i, str(i)) for i in range(20)]))
    v2 = t2.cluster_by(["k"], target_files=2)
    assert _feed(t2, since=1, to=v2) == []


def test_delete_then_compact_feed_still_folds_to_live(spark, root):
    """Compact MATERIALIZES pending deletes (content-identical to the
    live view) — the feed must not re-emit them."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b")]))
    t.commit_delete_where(spark.createDataFrame([(1,)], "k INT"), "k")
    t.compact()
    feed = _feed(t)
    assert feed == [
        (1, "a", "delete", 2),
        (1, "a", "insert", 1),
        (2, "b", "insert", 1),
    ]


def test_restore_reverting_a_delete_emits_revival_inserts(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b")]))  # v1
    t.commit_delete_where(spark.createDataFrame([(1,)], "k INT"), "k")  # v2
    t.restore(1)  # v3: key 1 lives again
    assert _feed(t, since=2) == [(1, "a", "insert", 3)]
    assert sorted(tuple(r) for r in t.read().collect()) == [(1, "a"), (2, "b")]


def test_merge_upsert_emits_self_canceling_rewrite_cdc(spark, root):
    t = VersionedTable(spark, root, partition_col="k")
    t.commit_append(_df(spark, [(1, "a"), (2, "b")]))
    t.merge_upsert(_df(spark, [(2, "b2"), (3, "c")]), "k")
    feed = _feed(t, since=1)
    # every removed row retracted, every new-file row inserted; the
    # unchanged row (1,'a') either stays put or cancels delete+insert
    net: dict = {}
    for k, v, ct, _cv in feed:
        net[(k, v)] = net.get((k, v), 0) + (1 if ct == "insert" else -1)
    live = {(1, "a"): 1, (2, "b2"): 1, (3, "c"): 1, (2, "b"): -1}
    live = {kv: n for kv, n in live.items() if n}
    assert {kv: n for kv, n in net.items() if n} == {
        (2, "b"): -1,
        (2, "b2"): 1,
        (3, "c"): 1,
    }


def _phys_names(t, v):
    """{physical name: logical name} of version ``v``'s columns. A
    physical name is fixed for a field's lifetime (it is the column's
    name before mapping was enabled), so it matches one field across a
    rename and tells a re-added name from the dropped field."""
    from pyspark.sql.types import StructType

    m = t.manifest(v)
    phys = {e["name"]: e["phys"] for e in m.get("column_mapping") or []}
    return {
        phys.get(f.name, f.name): f.name
        for f in StructType.fromDDL(m["schema"]).fields
    }


def _assert_same_multiset(lhs, rhs, what):
    extra, missing = lhs.exceptAll(rhs).collect(), rhs.exceptAll(lhs).collect()
    assert not extra and not missing, f"{what}: +{extra} -{missing}"


def test_signed_fold_equals_snapshot_groupby_at_every_version(spark, root):
    """The headline invariant, checked against read() alone over an op
    mix of every commit shape: for EVERY v, fold(changes_with_type(0,
    v)) == groupBy(read(v)); row by row, the inserts minus the deletes
    of (v-1, v] equal read(v) minus read(v-1) as multisets; and the
    whole window (0, last] nets to the last snapshot on every column
    that reads the same at every version (no default, not generated)."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import StructType

    schema = (
        "id INT, g INT, x DOUBLE, w INT, tag STRING, "
        "props STRUCT<a: INT, b: STRING>"
    )

    def rows(ids, scale=1.0):
        return spark.createDataFrame(
            [(i, i % 3, scale * i, 10 * i, f"t{i}", (i, f"p{i}")) for i in ids],
            schema,
        )

    def keys(ids):
        return spark.createDataFrame([(i,) for i in ids], "id INT")

    t = VersionedTable(spark, root, partition_col="g")
    t.commit_append(rows(range(30)))
    t.commit_delete_where(keys(range(0, 30, 5)), "id")
    t.commit_append(rows(range(30, 40)))
    t.delete_rows_where("id IN (7, 31)", mode="mor")  # deletion vector
    t.merge_upsert(rows([1, 2, 40], scale=2.0), "id")
    t.commit_replace_where(rows([1, 4, 13], scale=3.0), [1])
    v = t.commit_delete_where(keys([8]), "id")
    t.restore(v - 1)  # reverts an equality delete
    v = t.delete_rows_where("id = 11", mode="mor")
    t.restore(v - 1)  # reverts a positional delete
    t.compact()
    t.commit_overwrite(rows(range(20), scale=0.5))
    t.rename_column("tag", "label")
    t.rename_nested_field("props", "a", "units")
    t.add_column("note", "string", default="'n/a'")
    t.add_generated_column("x2", "double", "x * 2")
    t.drop_column("w")
    t.commit_append(  # re-adds the dropped name as a new field
        spark.createDataFrame(
            [(50 + i, i % 3, float(i), f"n{i}", (i, None), "new", 2.0 * i, -i)
             for i in range(3)],
            "id INT, g INT, x DOUBLE, label STRING, "
            "props STRUCT<units: INT, b: STRING>, note STRING, x2 DOUBLE, "
            "w INT",
        ),
        merge_schema=True,
    )
    t.commit_delete_where(keys([3, 6, 51]), "id")

    def split(feed, cols):
        return (
            feed.filter(F.col(CT) == "insert").select(*cols),
            feed.filter(F.col(CT) == "delete").select(*cols),
        )

    last = t.latest_version()
    sign = F.when(F.col(CT) == "delete", F.lit(-1)).otherwise(F.lit(1))
    for v in range(1, last + 1):
        folded = (
            t.changes_with_type(0, v)
            .groupBy("g")
            .agg(
                F.sum(sign).alias("n"),
                F.sum(sign * F.floor(F.col("x") * 1e6 + 0.5).cast("long")).alias("s6"),
            )
            .filter(F.col("n") != 0)
        )
        direct = t.read(v).groupBy("g").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("x") * 1e6 + 0.5).cast("long")).alias("s6"),
        )
        assert sorted(map(tuple, folded.collect())) == sorted(
            map(tuple, direct.collect())
        ), f"fold != snapshot at version {v}"

        # row level, on v's columns that version v-1 also has
        new = _phys_names(t, v)
        old = _phys_names(t, v - 1) if v > 1 else {p: p for p in new}
        shared = [(old[p], n) for p, n in new.items() if p in old]
        types = {
            f.name: f.dataType
            for f in StructType.fromDDL(t.manifest(v)["schema"]).fields
        }
        cols = [n for _o, n in shared]
        # a cast between structs is positional: it carries a member rename
        prev = (t.read(v - 1) if v > 1 else t.read(v).limit(0)).select(
            *[F.col(o).cast(types[n]).alias(n) for o, n in shared]
        )
        ins, dels = split(t.changes_with_type(v - 1, v), cols)
        _assert_same_multiset(
            ins.unionAll(prev),
            dels.unionAll(t.read(v).select(*cols)),
            f"commit {v} ({t.manifest(v)['op']})",
        )

    m = t.manifest(last)
    varying = set(m["column_defaults"]) | set(m["generated_columns"])
    cols = [n for n in _phys_names(t, last).values() if n not in varying]
    ins, dels = split(t.changes_with_type(0, last), cols)
    _assert_same_multiset(
        ins, dels.unionAll(t.read(last).select(*cols)), f"window (0, {last}]"
    )


def test_continuous_aggregate_with_deletes_tracks_live_snapshot(spark, root, tmp_path):
    import pyspark.sql.functions as F

    from unity_to_bigquery_spark.plans.incremental_agg import ContinuousAggregate

    src = VersionedTable(spark, root)
    agg = ContinuousAggregate(
        spark, src, str(tmp_path / "agg"), key="g",
        measures={"s6": "x"}, handle_deletes=True,
    )
    src.commit_append(spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(30)], "id INT, g INT, x DOUBLE"
    ))
    agg.refresh()
    agg.refresh()  # idempotent no-op
    src.commit_delete_where(
        spark.createDataFrame([(i,) for i in range(0, 30, 2)], "id INT"), "id"
    )
    agg.refresh()
    # delete EVERYTHING in group 0 -> tombstone must not surface
    src.commit_delete_where(
        spark.createDataFrame([(i,) for i in range(30) if i % 3 == 0], "id INT"),
        "id",
    )
    agg.refresh()
    direct = src.read().groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("x") * 1e6 + 0.5).cast("long")).alias("s6"),
    )
    assert sorted(map(tuple, agg.read().select("g", "n", "s6").collect())) == sorted(
        map(tuple, direct.collect())
    )
    assert agg.read().filter("n = 0").count() == 0
    # a revived key after a full tombstone resurfaces
    src.commit_append(spark.createDataFrame([(100, 0, 7.5)], "id INT, g INT, x DOUBLE"))
    agg.refresh()
    assert sorted(map(tuple, agg.read().select("g", "n", "s6").collect()))[0] == (
        0, 1, 7500000,
    )


def test_commit_replace_keys_atomic_slice_replace(spark, root):
    """commit_replace_keys: one commit that drops every row for the
    named key values and appends the new slice — staged rows may reuse
    deleted keys (the delete sequences at the parent version)."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (1, "a1"), (2, "b"), (3, "c")]))
    v = t.commit_replace_keys(
        _df(spark, [(1, "A"), (1, "A1"), (1, "A2")]),
        spark.createDataFrame([(1,)], "k INT"),
        "k",
        txn=("scd2", 7),
    )
    assert sorted(tuple(r) for r in t.read().collect()) == [
        (1, "A"), (1, "A1"), (1, "A2"), (2, "b"), (3, "c"),
    ]
    # replay is a no-op
    assert t.commit_replace_keys(
        _df(spark, [(1, "ZZZ")]), spark.createDataFrame([(1,)], "k INT"), "k",
        txn=("scd2", 7),
    ) == v
    assert t.read().filter("v = 'ZZZ'").count() == 0
    # CDC of the replace commit: old slice retracted, new slice inserted
    assert _feed(t, since=1, to=v) == [
        (1, "A", "insert", 2),
        (1, "A1", "insert", 2),
        (1, "A2", "insert", 2),
        (1, "a", "delete", 2),
        (1, "a1", "delete", 2),
    ]


def test_multikey_delete_prune_guard_never_prunes_wrong_column(
    spark, root, monkeypatch
):
    """A commit introducing delete entries on DIFFERENT key columns,
    where the first (sort-ordered) entry's key file is EMPTY, must not
    prune candidate files against the wrong column (ADVICE r4 #3 —
    previously the empty first file left ``vals`` falsy, so the second
    entry's values pruned against entry #1's column and silently
    dropped retraction rows). The change-feed planner's stats pruning
    aborts whenever entries disagree on the key column."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from unity_to_bigquery_spark.plans.versioned import DATA_DIR
    from unity_to_bigquery_spark.sources.versioned_stream import (
        VersionedTableStreamReader,
    )

    t = VersionedTable(spark, root)
    t.commit_append(
        spark.createDataFrame(
            [(1, 100, "a"), (2, 200, "b")], "k INT, j INT, v STRING"
        ).coalesce(1)
    )
    m1 = t.manifest(1)
    # hand-stage two delete-key files whose names force the adversarial
    # sort order: the EMPTY key-k file first, the key-j file second
    d = os.path.join(root, DATA_DIR)
    pq.write_table(
        pa.table({"k": pa.array([], type=pa.int32())}),
        os.path.join(d, "a-empty-k.parquet"),
    )
    pq.write_table(
        pa.table({"j": pa.array([200], type=pa.int32())}),
        os.path.join(d, "b-keys-j.parquet"),
    )
    m2 = dict(m1)
    m2["version"] = 2
    m2["op"] = "delete_where"
    m2["deletes"] = [
        {"file": "a-empty-k.parquet", "key": "k", "version": 2},
        {"file": "b-keys-j.parquet", "key": "j", "version": 2},
    ]
    schema = StructType(
        t.read().schema.fields
        + [StructField(CT, StringType()), StructField(CV, LongType())]
    )
    reader = VersionedTableStreamReader(
        {"path": root, "emit_change_types": "true"}, schema
    )
    # the hand-staged commit is planned, never published
    monkeypatch.setattr(reader._t, "manifest", {1: m1, 2: m2}.get)
    rows = sorted(
        tuple(r.values())
        for p in reader._cdc_partitions(1, 2, m2)
        for batch in reader.read(p)
        for r in batch.to_pylist()
    )
    # j=200 (value OUTSIDE the data file's k-range [1,2], so pruning
    # against column k would skip the file) must still be retracted
    assert rows == [(2, 200, "b", "delete", 2)]


def test_empty_range_returns_typed_empty_feed(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a")]))
    out = t.changes_with_type(1, 1)
    assert out.count() == 0
    assert CT in out.columns and CV in out.columns


def test_changes_with_updates_pairs_pre_post_images(spark, root):
    """changes_with_updates (Delta CDF update-image parity, VERDICT r4
    missing #3): within a commit, delete+insert sharing the key become
    update_preimage/update_postimage; pure inserts/deletes keep their
    types; equal-valued rewrite pairs (untouched rows in rewritten
    files) are DROPPED by default and kept under include_unchanged."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))  # v1
    t.merge_upsert(_df(spark, [(2, "B2"), (4, "d")]), "k")  # v2
    t.commit_delete_where(spark.createDataFrame([(3,)], "k INT"), "k")  # v3

    out = sorted(
        tuple(r)
        for r in t.changes_with_updates("k", 0).select("k", "v", CT, CV).collect()
    )
    assert out == sorted(
        [
            (1, "a", "insert", 1),
            (2, "b", "insert", 1),
            (3, "c", "insert", 1),
            (2, "b", "update_preimage", 2),
            (2, "B2", "update_postimage", 2),
            (4, "d", "insert", 2),
            (3, "c", "delete", 3),
        ]
    ), out

    # include_unchanged surfaces the rewrite noise, typed as updates
    noisy = sorted(
        tuple(r)
        for r in t.changes_with_updates("k", 1, 2, include_unchanged=True)
        .select("k", "v", CT, CV)
        .collect()
    )
    assert (2, "b", "update_preimage", 2) in noisy
    assert (2, "B2", "update_postimage", 2) in noisy
    # untouched-but-rewritten rows appear as equal-valued pairs
    unchanged_pairs = [r for r in noisy if r[0] in (1, 3)]
    assert unchanged_pairs and all(
        r[2] in ("update_preimage", "update_postimage") for r in unchanged_pairs
    )
    # default (drop-unchanged) vs signed fold: the update feed folds to
    # the same live snapshot as the raw feed
    import pyspark.sql.functions as F

    upd = t.changes_with_updates("k", 0)
    sign = F.when(
        F.col(CT).isin("delete", "update_preimage"), F.lit(-1)
    ).otherwise(F.lit(1))
    folded = (
        upd.groupBy("k", "v").agg(F.sum(sign).alias("n")).filter("n != 0")
    )
    assert sorted((r.k, r.v) for r in folded.collect()) == sorted(
        (r.k, r.v) for r in t.read().collect()
    )


def test_cdc_window_bounded_and_paging_composes(spark, root):
    """Paging a backlog in bounded windows yields the IDENTICAL feed as
    one window over it: folds over consecutive pages compose exactly
    (what the paged refreshes of the change-feed consumers rely on)."""
    t = VersionedTable(spark, root)
    # 9-commit backlog with a delete mixed in
    for i in range(8):
        t.commit_append(_df(spark, [(i, f"v{i}")]))
    t.commit_delete_where(spark.createDataFrame([(3,)], "k INT"), "k")

    whole = sorted(
        tuple(r)
        for r in t.changes_with_type(0).select("k", "v", CT, CV).collect()
    )
    # paged consumption: 3 windows of <= 4 commits each
    paged = []
    for lo, hi in ((0, 4), (4, 8), (8, 9)):
        paged.extend(
            tuple(r)
            for r in t.changes_with_type(lo, hi)
            .select("k", "v", CT, CV)
            .collect()
        )
    assert sorted(paged) == whole


def test_versioned_stream_default_pacing_is_finite():
    """The streaming reader's max_versions_per_batch defaults to a
    FINITE 64 (VERDICT r4 #6): a consumer catching up over a long
    backlog pages by default; unbounded (0) is an explicit opt-out."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    from unity_to_bigquery_spark.sources.versioned_stream import (
        VersionedTableStreamReader,
    )

    schema = StructType([StructField("k", IntegerType())])
    r = VersionedTableStreamReader({"path": "/nonexistent"}, schema)
    assert r.max_versions == 64
    r0 = VersionedTableStreamReader(
        {"path": "/nonexistent", "max_versions_per_batch": "0"}, schema
    )
    assert r0.max_versions == 0  # explicit opt-out still available


def test_continuous_aggregate_pages_long_idle_catchup(spark, root, tmp_path, monkeypatch):
    """ADVICE r5 (medium): a catch-up spanning more commits than
    CDC_MAX_COMMITS must page, one atomic commit per page — the
    documented long-idle continuous-aggregate scenario. Page size
    shrunk to 2 so 7 backlogged commits force 4 pages; the paged
    result must equal a direct
    groupBy of the live snapshot and stamp the final source version."""
    import pyspark.sql.functions as F

    from unity_to_bigquery_spark.plans.incremental_agg import ContinuousAggregate

    monkeypatch.setattr(VersionedTable, "CDC_MAX_COMMITS", 2)
    src = VersionedTable(spark, root)
    agg = ContinuousAggregate(
        spark, src, str(tmp_path / "agg"), key="g",
        measures={"s6": "x"}, handle_deletes=True,
    )
    for i in range(5):
        src.commit_append(spark.createDataFrame(
            [(10 * i + j, j % 2, float(i + j)) for j in range(4)],
            "id INT, g INT, x DOUBLE",
        ))
    src.commit_delete_where(
        spark.createDataFrame([(0,), (11,), (22,)], "id INT"), "id"
    )
    src.commit_append(spark.createDataFrame(
        [(99, 1, 2.25)], "id INT, g INT, x DOUBLE"
    ))
    assert src.latest_version() == 7
    # refresh pages through the backlog
    assert agg.refresh() == 7
    direct = src.read().groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("x") * 1e6 + 0.5).cast("long")).alias("s6"),
    )
    assert sorted(map(tuple, agg.read().select("g", "n", "s6").collect())) == sorted(
        map(tuple, direct.collect())
    )
    assert agg.last_refreshed() == 7
    assert agg.refresh() == 7  # replay no-op
    # explicit page-size override also honored
    src.commit_append(spark.createDataFrame(
        [(100, 0, 1.0), (101, 1, 3.0)], "id INT, g INT, x DOUBLE"
    ))
    assert agg.refresh(max_commits=1) == 8
    direct2 = src.read().groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("x") * 1e6 + 0.5).cast("long")).alias("s6"),
    )
    assert sorted(map(tuple, agg.read().select("g", "n", "s6").collect())) == sorted(
        map(tuple, direct2.collect())
    )
    with pytest.raises(ValueError, match="max_commits"):
        agg.refresh(max_commits=0)


def test_continuous_aggregate_folds_positional_deletes(spark, root, tmp_path):
    """Round 8: positional-delete commits now flow through the typed
    change feed, so the signed ContinuousAggregate fold stays exact
    across them — no compact-first, no rebuild."""
    import pyspark.sql.functions as F

    from unity_to_bigquery_spark.plans.incremental_agg import ContinuousAggregate

    src = VersionedTable(spark, root)
    agg = ContinuousAggregate(
        spark, src, str(tmp_path / "agg"), key="g",
        measures={"s6": "x"}, handle_deletes=True,
    )
    src.commit_append(
        spark.createDataFrame(
            [(i, i % 3, float(i)) for i in range(24)], "id INT, g INT, x DOUBLE"
        ).orderBy("id").coalesce(1)  # one sorted file: row_index == id
    )
    agg.refresh()
    f0 = src.manifest()["files"][0]
    # kill rows 4..9 positionally, then a later batch + another pos page
    src.commit_delete_positions(
        spark.createDataFrame([(f0, p) for p in range(4, 10)],
                              "file STRING, pos BIGINT")
    )
    agg.refresh()
    src.commit_append(spark.createDataFrame(
        [(100 + i, i % 3, 0.25 * i) for i in range(9)], "id INT, g INT, x DOUBLE"
    ))
    src.commit_delete_positions(
        spark.createDataFrame([(f0, 0), (f0, 23)], "file STRING, pos BIGINT")
    )
    agg.refresh()
    direct = src.read().groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("x") * 1e6 + 0.5).cast("long")).alias("s6"),
    )
    assert sorted(map(tuple, agg.read().select("g", "n", "s6").collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_continuous_aggregate_across_pos_delete_restore(spark, root, tmp_path):
    """Round 9 (VERDICT r8 #3 'Done'): a restore that revives
    pos-deleted rows in place is now expressible in the feed, so a
    continuous aggregate refreshed across the restore equals a direct
    recompute — no rebuild, no error."""
    import pyspark.sql.functions as F

    from unity_to_bigquery_spark.plans.incremental_agg import ContinuousAggregate

    src = VersionedTable(spark, root)
    agg = ContinuousAggregate(
        spark, src, str(tmp_path / "agg"), key="g",
        measures={"s6": "x"}, handle_deletes=True,
    )
    src.commit_append(
        spark.createDataFrame(
            [(i, i % 3, float(i)) for i in range(12)], "id INT, g INT, x DOUBLE"
        ).orderBy("id").coalesce(1)
    )
    agg.refresh()
    f0 = src.manifest()["files"][0]
    v_pre = src.latest_version()
    src.commit_delete_positions(
        spark.createDataFrame([(f0, 1), (f0, 4)], "file STRING, pos BIGINT")
    )
    agg.refresh()
    # restore past the pos-delete: ordinals 1 and 4 revive in place
    src.restore(v_pre)
    agg.refresh()
    agg.refresh()  # replay no-op
    direct = src.read().groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("x") * 1e6 + 0.5).cast("long")).alias("s6"),
    )
    assert sorted(map(tuple, agg.read().select("g", "n", "s6").collect())) == sorted(
        map(tuple, direct.collect())
    )


# ---- round 11: MIN/MAX measures in IVM (VERDICT r10 #3) ---------------------


def _minmax_direct(src):
    import pyspark.sql.functions as F

    return src.read().groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("x") * 1e6 + 0.5).cast("long")).alias("s6"),
        F.min(F.floor(F.col("x") * 1e6 + 0.5).cast("long")).alias("lo6"),
        F.max(F.floor(F.col("x") * 1e6 + 0.5).cast("long")).alias("hi6"),
    )


def _assert_rollup_exact(agg, src):
    got = sorted(map(tuple, agg.read().select("g", "n", "s6", "lo6", "hi6").collect()))
    want = sorted(map(tuple, _minmax_direct(src).collect()))
    assert got == want, f"\ngot  {got}\nwant {want}"


def test_continuous_aggregate_minmax_delete_kills_extremum(spark, root, tmp_path):
    """The non-invertible gauntlet: deletes that remove a group's max
    (and min), partial deletes that don't, full-group tombstones, and a
    revival — rollup ≡ recompute after every refresh."""
    from unity_to_bigquery_spark.plans.incremental_agg import ContinuousAggregate

    src = VersionedTable(spark, root)
    agg = ContinuousAggregate(
        spark, src, str(tmp_path / "agg"), key="g",
        measures={"s6": "x"}, min_measures={"lo6": "x"},
        max_measures={"hi6": "x"}, handle_deletes=True,
    )
    src.commit_append(spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(30)], "id INT, g INT, x DOUBLE"
    ))
    agg.refresh()
    _assert_rollup_exact(agg, src)
    # delete group 0's MAX (id 27, x=27) and group 1's MIN (id 1, x=1)
    src.commit_delete_where(
        spark.createDataFrame([(27,), (1,)], "id INT"), "id"
    )
    agg.refresh()
    _assert_rollup_exact(agg, src)
    # delete rows that are NOT extrema: fold must not rescan-corrupt
    src.commit_delete_where(
        spark.createDataFrame([(9,), (10,)], "id INT"), "id"
    )
    agg.refresh()
    _assert_rollup_exact(agg, src)
    # full tombstone of group 2, then revival with a fresh extremum
    src.commit_delete_where(
        spark.createDataFrame([(i,) for i in range(30) if i % 3 == 2], "id INT"),
        "id",
    )
    agg.refresh()
    _assert_rollup_exact(agg, src)
    assert agg.read().filter("g = 2").count() == 0
    src.commit_append(
        spark.createDataFrame([(200, 2, -5.5)], "id INT, g INT, x DOUBLE")
    )
    agg.refresh()
    _assert_rollup_exact(agg, src)
    # idempotent replay
    v = agg.refresh()
    assert agg.refresh() == v
    _assert_rollup_exact(agg, src)


def test_continuous_aggregate_minmax_append_only(spark, root, tmp_path):
    from unity_to_bigquery_spark.plans.incremental_agg import ContinuousAggregate

    src = VersionedTable(spark, root)
    agg = ContinuousAggregate(
        spark, src, str(tmp_path / "agg"), key="g",
        measures={"s6": "x"}, min_measures={"lo6": "x"},
        max_measures={"hi6": "x"},
    )
    src.commit_append(spark.createDataFrame(
        [(1, 0, 5.0), (2, 1, 3.0)], "id INT, g INT, x DOUBLE"
    ))
    agg.refresh()
    # new extremes on both ends + a brand-new group
    src.commit_append(spark.createDataFrame(
        [(3, 0, 9.0), (4, 0, 1.0), (5, 2, 4.0)], "id INT, g INT, x DOUBLE"
    ))
    agg.refresh()
    _assert_rollup_exact(agg, src)


def test_continuous_aggregate_minmax_paged_catchup_pins_rescan(spark, root, tmp_path):
    """Paged refresh: page 1 ends at a version where group 0's max was
    deleted, page 2 adds a bigger value. Asserts the rollup equals the
    PINNED-version recompute after EACH page (ADVICE r11: the head-only
    assert let the page-2 insert mask a wrong page-1 state — page 1 is
    the NULL-state same-window insert+delete case, so the rescan must
    fire with no stored extremum)."""
    from unity_to_bigquery_spark.plans.incremental_agg import ContinuousAggregate
    import pyspark.sql.functions as F

    src = VersionedTable(spark, root)
    agg = ContinuousAggregate(
        spark, src, str(tmp_path / "agg"), key="g",
        measures={"s6": "x"}, max_measures={"hi6": "x"},
        handle_deletes=True,
    )
    src.commit_append(spark.createDataFrame(
        [(1, 0, 5.0), (2, 0, 8.0)], "id INT, g INT, x DOUBLE"
    ))  # v1
    src.commit_delete_where(spark.createDataFrame([(2,)], "id INT"), "id")  # v2: kills max
    src.commit_append(spark.createDataFrame(
        [(3, 0, 99.0)], "id INT, g INT, x DOUBLE"
    ))  # v3

    def pinned_want(version):
        return sorted(map(tuple, src.read(version=version).groupBy("g").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("x") * 1e6 + 0.5).cast("long")).alias("s6"),
            F.max(F.floor(F.col("x") * 1e6 + 0.5).cast("long")).alias("hi6"),
        ).collect()))

    def got():
        return sorted(map(tuple, agg.read().select("g", "n", "s6", "hi6").collect()))

    # page 1: (0, 2] — group 0 has NO stored state, insert 8.0 and its
    # delete land in the same window; rollup must show hi6 = 5.0
    assert agg._refresh_window(0, 2) == 2
    assert got() == pinned_want(2), f"\npage-1 got {got()}\nwant {pinned_want(2)}"
    # page 2: (2, 3]
    assert agg._refresh_window(2, 3) == 3
    assert got() == pinned_want(3), f"\npage-2 got {got()}\nwant {pinned_want(3)}"


def test_continuous_aggregate_minmax_null_state_same_window_delete(
    spark, root, tmp_path
):
    """ADVICE r11 high repro: brand-new key, append (5.0, 8.0) then
    delete 8.0, ONE refresh window — rollup must report the live
    extremum 5.0, not the deleted 8.0. Also covers tombstone revival
    (n back to >0 with NULL stored extrema) and the min side."""
    from unity_to_bigquery_spark.plans.incremental_agg import ContinuousAggregate

    src = VersionedTable(spark, root)
    agg = ContinuousAggregate(
        spark, src, str(tmp_path / "agg"), key="g",
        measures={"s6": "x"}, min_measures={"lo6": "x"},
        max_measures={"hi6": "x"}, handle_deletes=True,
    )
    src.commit_append(spark.createDataFrame(
        [(1, 0, 5.0), (2, 0, 8.0), (3, 0, 2.0)], "id INT, g INT, x DOUBLE"
    ))
    # kill both the max (8.0) and the min (2.0) before the first refresh
    src.commit_delete_where(
        spark.createDataFrame([(2,), (3,)], "id INT"), "id"
    )
    agg.refresh()
    rows = agg.read().select("g", "n", "lo6", "hi6").collect()
    assert [tuple(r) for r in rows] == [(0, 1, 5000000, 5000000)], rows
    # tombstone the key, then revive with a same-window insert+delete
    src.commit_delete_where(spark.createDataFrame([(1,)], "id INT"), "id")
    agg.refresh()
    assert agg.read().count() == 0
    src.commit_append(spark.createDataFrame(
        [(10, 0, 4.0), (11, 0, 9.0)], "id INT, g INT, x DOUBLE"
    ))
    src.commit_delete_where(spark.createDataFrame([(11,)], "id INT"), "id")
    agg.refresh()
    rows = agg.read().select("g", "n", "lo6", "hi6").collect()
    assert [tuple(r) for r in rows] == [(0, 1, 4000000, 4000000)], rows


def test_continuous_aggregate_measure_name_validation(spark, root, tmp_path):
    from unity_to_bigquery_spark.plans.incremental_agg import ContinuousAggregate

    src = VersionedTable(spark, root)
    with pytest.raises(ValueError, match="distinct"):
        ContinuousAggregate(
            spark, src, str(tmp_path / "agg"), key="g",
            measures={"m": "x"}, min_measures={"m": "x"},
        )
    with pytest.raises(ValueError, match="'n'"):
        ContinuousAggregate(
            spark, src, str(tmp_path / "agg2"), key="g",
            measures={"n": "x"},
        )
