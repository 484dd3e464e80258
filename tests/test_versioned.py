"""VersionedTable (plans/versioned.py): manifest-log table format.

Covers the ACID properties the module claims: atomic O_EXCL commits,
snapshot-isolated reads (a resolved DataFrame survives later commits
and replaces), time travel, optimistic concurrency (parallel appends
all land; conflicting replace_where aborts; disjoint replace_where
merges), and vacuum GC semantics.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import pytest

from unity_to_bigquery_spark.plans.versioned import (
    ConcurrentWriteError,
    NoSuchVersionError,
    VersionedTable,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, pairs, ds=None):
    if ds is None:
        return spark.createDataFrame(pairs, "k INT, v STRING")
    return spark.createDataFrame([(k, v, ds) for k, v in pairs], "k INT, v STRING, ds STRING")


def test_append_versions_and_history(spark, root):
    t = VersionedTable(spark, root)
    assert t.latest_version() == 0
    assert t.read().count() == 0  # version-0 empty table
    v1 = t.commit_append(_df(spark, [(1, "a"), (2, "b")]))
    v2 = t.commit_append(_df(spark, [(3, "c")]))
    assert (v1, v2) == (1, 2)
    assert _rows(t.read().select("k", "v")) == [(1, "a"), (2, "b"), (3, "c")]
    ops = [h["op"] for h in t.history()]
    assert ops == ["append", "append"]


def test_time_travel_and_overwrite(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a")]))
    t.commit_overwrite(_df(spark, [(9, "z")]))
    assert _rows(t.read().select("k", "v")) == [(9, "z")]
    assert _rows(t.read(version=1).select("k", "v")) == [(1, "a")]
    with pytest.raises(NoSuchVersionError):
        t.read(version=99)


def test_snapshot_isolation_across_overwrite(spark, root):
    """A DataFrame resolved against v1 must still compute after an
    overwrite commit — the manifest pins an explicit file list that
    later commits never mutate (no FileNotFound-mid-scan class)."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(i, "x") for i in range(100)]))
    snap = t.read()  # resolves v1's file list now
    t.commit_overwrite(_df(spark, [(0, "y")]))
    assert snap.count() == 100  # executed AFTER the overwrite
    assert t.read().count() == 1


def test_append_schema_mismatch_rejected(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a")]))
    bad = spark.createDataFrame([(1.5,)], "k DOUBLE")
    with pytest.raises(ValueError, match="schema mismatch"):
        t.commit_append(bad)


def test_replace_where_rewrites_only_named_partitions(spark, root):
    t = VersionedTable(spark, root, partition_col="ds")
    t.commit_append(_df(spark, [(1, "a"), (2, "b")], ds="d1"))
    t.commit_append(_df(spark, [(3, "c")], ds="d2"))
    files_before = set(t.manifest()["files"])
    t.commit_replace_where(_df(spark, [(10, "A")], ds="d1"), ["d1"])
    got = _rows(t.read().select("k", "v", "ds"))
    assert got == [(3, "c", "d2"), (10, "A", "d1")]
    # d2's physical files are untouched (not rewritten, not re-staged)
    d2_before = {f for f in files_before if "ds=d2" in f}
    assert d2_before <= set(t.manifest()["files"])


def test_concurrent_appends_all_land(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(0, "seed")]))

    def worker(i: int) -> int:
        # each worker uses its own handle, as separate writers would
        w = VersionedTable(spark, root)
        return w.commit_append(_df(spark, [(100 + i, f"w{i}")]))

    with ThreadPoolExecutor(max_workers=8) as ex:
        versions = list(ex.map(worker, range(8)))
    assert sorted(versions) == list(range(2, 10))  # distinct, gapless
    assert t.read().count() == 9


def test_replace_where_conflict_same_partition(spark, root):
    """Racer commits a replace on the SAME partition between this
    writer's snapshot and publish -> ConcurrentWriteError (lost
    update would otherwise silently drop the racer's write)."""
    t = VersionedTable(spark, root, partition_col="ds")
    t.commit_append(_df(spark, [(1, "a")], ds="d1"))

    racer = VersionedTable(spark, root, partition_col="ds")
    orig = t._publish_once
    fired = {"done": False}

    def hooked(base, files, op, schema):
        if not fired["done"]:
            fired["done"] = True
            racer.commit_replace_where(_df(spark, [(50, "racer")], ds="d1"), ["d1"])
        return orig(base, files, op, schema)

    t._publish_once = hooked
    with pytest.raises(ConcurrentWriteError, match="modified concurrently"):
        t.commit_replace_where(_df(spark, [(99, "mine")], ds="d1"), ["d1"])
    # the racer's committed write survives intact
    assert _rows(t.read().select("k", "v")) == [(50, "racer")]


def test_replace_where_disjoint_partitions_merge(spark, root):
    """Racer rewrites a DIFFERENT partition: this writer retries and
    merges cleanly on the new log — no spurious abort."""
    t = VersionedTable(spark, root, partition_col="ds")
    t.commit_append(_df(spark, [(1, "a")], ds="d1"))
    t.commit_append(_df(spark, [(2, "b")], ds="d2"))

    racer = VersionedTable(spark, root, partition_col="ds")
    orig = t._publish_once
    fired = {"done": False}

    def hooked(base, files, op, schema):
        if not fired["done"]:
            fired["done"] = True
            racer.commit_replace_where(_df(spark, [(20, "B")], ds="d2"), ["d2"])
        return orig(base, files, op, schema)

    t._publish_once = hooked
    t.commit_replace_where(_df(spark, [(10, "A")], ds="d1"), ["d1"])
    got = _rows(t.read().select("k", "v", "ds"))
    assert got == [(10, "A", "d1"), (20, "B", "d2")]


def test_vacuum_gc_and_horizon(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a")]))
    t.commit_overwrite(_df(spark, [(2, "b")]))
    deleted = t.vacuum(keep_last=1)
    assert deleted  # v1's files are unreferenced by the retained set
    data_root = os.path.join(root, "data")
    for rel in deleted:
        assert not os.path.exists(os.path.join(data_root, rel))
    assert _rows(t.read().select("k", "v")) == [(2, "b")]
    with pytest.raises(NoSuchVersionError):
        t.read(version=1)


def test_changes_incremental_read(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b")]))
    t.commit_append(_df(spark, [(3, "c")]))
    t.commit_append(_df(spark, [(4, "d"), (5, "e")]))
    # each committed batch exactly once
    assert _rows(t.changes(0, 1)) == [(1, "a"), (2, "b")]
    assert _rows(t.changes(1, 2)) == [(3, "c")]
    assert _rows(t.changes(2)) == [(4, "d"), (5, "e")]
    # catch-up across several versions == union of the batches
    assert _rows(t.changes(1)) == [(3, "c"), (4, "d"), (5, "e")]
    # fully caught up -> empty with the table schema
    empty = t.changes(3)
    assert empty.count() == 0 and set(empty.columns) == {"k", "v"}
    with pytest.raises(NoSuchVersionError):
        t.changes(3, 1)


def test_changes_replace_where_emits_rewritten_partition(spark, root):
    t = VersionedTable(spark, root, partition_col="ds")
    t.commit_append(_df(spark, [(1, "a")], ds="d1"))
    t.commit_append(_df(spark, [(2, "b")], ds="d2"))
    t.commit_replace_where(_df(spark, [(9, "z")], ds="d1"), ["d1"])
    # rewrite-as-upsert CDC: the delta is the partition's NEW state
    assert _rows(t.changes(2)) == [(9, "z", "d1")]
    # snapshot after the rewrite is still consistent
    assert _rows(t.read()) == [(2, "b", "d2"), (9, "z", "d1")]


def test_manifest_stats_collected_on_write(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (5, "b")]))
    m = t.manifest()
    assert m["files"], "files committed"
    st = m["stats"]
    # every committed file has k/v min-max from its parquet footer
    for f in m["files"]:
        assert st[f]["k"][0] <= st[f]["k"][1]
        assert st[f]["v"][0] <= st[f]["v"][1]
    ks = [st[f]["k"] for f in m["files"]]
    assert min(lo for lo, _ in ks) == 1 and max(hi for _, hi in ks) == 5


def test_read_pruned_skips_files_and_matches_filter(spark, root):
    t = VersionedTable(spark, root)
    # three single-partition commits -> three files with disjoint k ranges
    t.commit_append(_df(spark, [(i, f"a{i}") for i in range(0, 10)]).coalesce(1))
    t.commit_append(_df(spark, [(i, f"b{i}") for i in range(100, 110)]).coalesce(1))
    t.commit_append(_df(spark, [(i, f"c{i}") for i in range(200, 210)]).coalesce(1))
    total = len(t.manifest()["files"])
    kept, skipped = t.prune_files("k", 100, 109)
    assert skipped == total - 1 and len(kept) == 1
    # pruned read == full-scan filter (skipping is only an optimization)
    expected = _rows(t.read().filter("k BETWEEN 100 AND 109"))
    assert _rows(t.read_pruned("k", 100, 109)) == expected
    # open-ended bounds
    assert _rows(t.read_pruned("k", 200, None)) == _rows(t.read().filter("k >= 200"))
    assert _rows(t.read_pruned("k", None, 9)) == _rows(t.read().filter("k <= 9"))
    # string-column pruning works off footer stats too
    kept_v, skipped_v = t.prune_files("v", "c0", "c9")
    assert skipped_v >= 1
    # unknown column: conservatively keeps everything
    kept_u, skipped_u = t.prune_files("nope", 1, 2)
    assert skipped_u == 0 and len(kept_u) == total


def test_read_pruned_empty_candidate_set(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a")]).coalesce(1))
    df = t.read_pruned("k", 50, 60)
    assert df.count() == 0 and set(df.columns) == {"k", "v"}


def test_time_travel_keeps_old_stats(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a")]).coalesce(1))
    t.commit_overwrite(_df(spark, [(100, "z")]).coalesce(1))
    # v1's manifest still prunes with v1's stats
    kept, skipped = t.prune_files("k", 100, 100, version=1)
    assert (len(kept), skipped) == (0, 1)
    kept2, _ = t.prune_files("k", 100, 100, version=2)
    assert len(kept2) == 1


def test_compact_preserves_content_and_reduces_files(spark, root):
    t = VersionedTable(spark, root)
    for i in range(4):
        t.commit_append(_df(spark, [(i * 10 + j, f"r{i}_{j}") for j in range(3)]))
    before = _rows(t.read())
    n_before = len(t.manifest()["files"])
    v = t.compact(target_files=1)
    assert t.manifest()["op"] == "compact" and t.latest_version() == v
    assert len(t.manifest()["files"]) < n_before
    assert _rows(t.read()) == before
    # pre-compaction snapshot still time-travels
    assert len(t.manifest(v - 1)["files"]) == n_before
    # compacted file carries fresh stats for pruning
    st = t.manifest()["stats"]
    assert all("k" in st[f] for f in t.manifest()["files"])


def test_compact_rebases_over_concurrent_append(spark, root, monkeypatch):
    """Round 12 (VERDICT r11 #1): an append sneaking in mid-compaction
    no longer aborts OPTIMIZE — the staged compacted files rebase onto
    the new head and the racer's file carries through untouched (the
    deeper conflict battery lives in test_occ_rebase.py)."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a")]))
    orig = t._write_files

    def write_then_race(df, **kw):
        staged = orig(df, **kw)
        # an append sneaks in after compaction read its snapshot
        VersionedTable(spark, root).commit_append(_df(spark, [(99, "sneak")]))
        return staged

    monkeypatch.setattr(t, "_write_files", write_then_race)
    t.compact()
    h = VersionedTable(spark, root)
    assert _rows(h.read()) == [(1, "a"), (99, "sneak")]
    assert h.manifest()["op"] == "compact"


def test_merge_schema_additive_evolution(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a")]))
    wide = spark.createDataFrame([(2, "b", 7.5)], "k INT, v STRING, score DOUBLE")
    # without opt-in: rejected
    with pytest.raises(ValueError, match="schema mismatch"):
        t.commit_append(wide)
    v = t.commit_append(wide, merge_schema=True)
    assert v == 2
    # latest read: widened schema, old rows NULL-filled
    got = {r["k"]: (r["v"], r["score"]) for r in t.read().collect()}
    assert got == {1: ("a", None), 2: ("b", 7.5)}
    # time travel to v1 keeps the ORIGINAL schema
    assert set(t.read(1).columns) == {"k", "v"}
    # incremental read of the delta carries the widened schema
    assert _rows(t.changes(1)) == [(2, "b", 7.5)]


def test_merge_schema_rejects_drops_and_type_changes(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="drops column"):
        t.commit_append(
            spark.createDataFrame([(2,)], "k INT"), merge_schema=True
        )
    with pytest.raises(ValueError, match="type changes|changes k"):
        t.commit_append(
            spark.createDataFrame([("x", "b")], "k STRING, v STRING"),
            merge_schema=True,
        )


def test_merge_upsert_semantics_and_file_pruning(spark, root):
    t = VersionedTable(spark, root)
    # two widely separated key ranges -> two files with disjoint stats
    t.commit_append(_df(spark, [(i, f"lo{i}") for i in range(0, 5)]).coalesce(1))
    t.commit_append(_df(spark, [(i, f"hi{i}") for i in range(1000, 1005)]).coalesce(1))
    lo_files = set(t.manifest(1)["files"])
    # updates touch only the high range: replace 1000, insert 2000
    updates = _df(spark, [(1000, "UPDATED"), (2000, "NEW")])
    v = t.merge_upsert(updates, key="k")
    m = t.manifest(v)
    assert m["op"] == "merge_upsert"
    # low-range file carried over byte-identical (never rewritten)
    assert lo_files <= set(m["files"])
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[1000] == "UPDATED" and got[2000] == "NEW"
    assert got[0] == "lo0" and len(got) == 11  # 5 lo + 5 hi (one replaced) + 1 new
    # untouched keys in the touched file survive
    assert got[1001] == "hi1001"
    # pre-merge snapshot still time-travels
    assert {r["k"] for r in t.read(2).collect()} == set(range(5)) | set(range(1000, 1005))


def test_merge_upsert_into_empty_and_aborts_on_race(spark, root, monkeypatch):
    t = VersionedTable(spark, root)
    v = t.merge_upsert(_df(spark, [(1, "a")]), key="k")
    assert v == 1 and _rows(t.read()) == [(1, "a")]
    orig = t._write_files

    def write_then_race(df, **kw):
        staged = orig(df, **kw)
        VersionedTable(spark, root).commit_append(_df(spark, [(50, "sneak")]))
        return staged

    monkeypatch.setattr(t, "_write_files", write_then_race)
    with pytest.raises(ConcurrentWriteError):
        t.merge_upsert(_df(spark, [(2, "b")]), key="k")
    assert (50, "sneak") in _rows(VersionedTable(spark, root).read())


def test_txn_idempotent_append(spark, root):
    t = VersionedTable(spark, root)
    v1 = t.commit_append(_df(spark, [(1, "a")]), txn=("ingest", 0))
    # replay of the same batch id: no-op, no new version, no dup rows
    v_replay = t.commit_append(_df(spark, [(1, "a")]), txn=("ingest", 0))
    assert (v1, v_replay) == (1, 1)
    assert _rows(t.read()) == [(1, "a")]
    # next batch commits; an OLDER batch id replayed later is also a no-op
    t.commit_append(_df(spark, [(2, "b")]), txn=("ingest", 1))
    assert t.commit_append(_df(spark, [(1, "dup")]), txn=("ingest", 0)) == 2
    assert _rows(t.read()) == [(1, "a"), (2, "b")]
    # a DIFFERENT app's batch 0 is independent
    t.commit_append(_df(spark, [(3, "c")]), txn=("other", 0))
    assert _rows(t.read()) == [(1, "a"), (2, "b"), (3, "c")]
    # txn state carries across intervening non-txn commits
    t.commit_append(_df(spark, [(4, "d")]))
    assert t.commit_append(_df(spark, [(9, "late")]), txn=("ingest", 1)) == t.latest_version()
    assert (9, "late") not in _rows(t.read())


def test_cluster_by_zorder_enables_multi_column_skipping(spark, root):
    t = VersionedTable(spark, root)
    # appends sorted by k only: v-ranges per file are WIDE, so pruning
    # on v skips nothing before clustering
    rows = [(k, (k * 37) % 64) for k in range(64)]
    half = len(rows) // 2
    t.commit_append(
        spark.createDataFrame(rows[:half], "k INT, v INT").coalesce(1)
    )
    t.commit_append(
        spark.createDataFrame(rows[half:], "k INT, v INT").coalesce(1)
    )
    _, skipped_v_before = t.prune_files("v", 0, 7)
    assert skipped_v_before == 0
    before = _rows(t.read())

    v = t.cluster_by(["k", "v"], target_files=8)
    assert t.manifest()["op"] == "cluster_by"
    assert _rows(t.read()) == before  # row-identical rewrite
    n_files = len(t.manifest()["files"])
    # after z-ordering BOTH dimensions prune
    _, skipped_k = t.prune_files("k", 0, 7)
    _, skipped_v = t.prune_files("v", 0, 7)
    assert skipped_k > 0 and skipped_v > 0
    # pruned reads stay exact
    assert _rows(t.read_pruned("v", 0, 7)) == _rows(t.read().filter("v BETWEEN 0 AND 7"))
    assert _rows(t.read_pruned("k", 50, 63)) == _rows(t.read().filter("k >= 50"))
    # non-numeric, non-string clustering rejected
    t2 = VersionedTable(spark, root + "2")
    t2.commit_append(
        spark.createDataFrame([(1, [1, 2])], "k INT, v ARRAY<INT>")
    )
    with pytest.raises(ValueError, match="numeric or string"):
        t2.cluster_by(["v"])


def test_cluster_by_string_rank_buckets(spark, root):
    """STRING clustering (round 13): equal-frequency rank buckets from
    the distinct set — after cluster_by on (category, k), BOTH the
    string and the numeric dimension prune, and the rewrite is
    row-identical. compact() re-applies the persisted string spec."""
    t = VersionedTable(spark, root)
    cats = ["ar", "de", "en", "fr", "ja", "ko", "pt", "zh"]
    rows = [(k, cats[(k * 5) % 8]) for k in range(128)]
    half = len(rows) // 2
    t.commit_append(
        spark.createDataFrame(rows[:half], "k INT, category STRING").coalesce(1)
    )
    t.commit_append(
        spark.createDataFrame(rows[half:], "k INT, category STRING").coalesce(1)
    )
    _, skipped_before = t.prune_files("category", "en", "en")
    assert skipped_before == 0
    before = _rows(t.read())
    t.cluster_by(["category", "k"], target_files=8)
    assert _rows(t.read()) == before
    _, skipped_cat = t.prune_files("category", "en", "en")
    _, skipped_k = t.prune_files("k", 0, 15)
    assert skipped_cat > 0 and skipped_k > 0
    assert _rows(t.read_pruned("category", "en", "en")) == _rows(
        t.read().filter("category = 'en'")
    )
    # sort order persisted; compact keeps the clustering effective
    assert t.manifest()["sort_order"]["cols"] == ["category", "k"]
    t.commit_append(
        spark.createDataFrame([(999, "en")], "k INT, category STRING")
    )
    t.compact(target_files=8)
    _, skipped_after = t.prune_files("category", "en", "en")
    assert skipped_after > 0
    assert _rows(t.read_pruned("category", "ja", "ja")) == _rows(
        t.read().filter("category = 'ja'")
    )


def test_equality_deletes_merge_on_read(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    n_data_files = len(t.manifest()["files"])
    v = t.commit_delete_where(spark.createDataFrame([(2,)], "k INT"), key="k")
    # no data file rewritten — the delete is one small key file
    assert len(t.manifest()["files"]) == n_data_files
    assert t.manifest()["op"] == "delete_where"
    assert _rows(t.read()) == [(1, "a"), (3, "c")]
    # time travel BEFORE the delete still sees the row
    assert (2, "b") in _rows(t.read(v - 1))
    # pruned reads respect deletes too
    assert _rows(t.read_pruned("k", 1, 3)) == [(1, "a"), (3, "c")]


def test_reinserted_key_survives_older_delete(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "old"), (2, "keep")]))
    t.commit_delete_where(spark.createDataFrame([(1,)], "k INT"), key="k")
    # sequencing: the re-insert is NEWER than the delete -> must survive
    t.commit_append(_df(spark, [(1, "new")]))
    assert _rows(t.read()) == [(1, "new"), (2, "keep")]
    # a second delete hits both generations it covers
    t.commit_delete_where(spark.createDataFrame([(2,)], "k INT"), key="k")
    assert _rows(t.read()) == [(1, "new")]


def test_compact_materializes_deletes_and_vacuum_keeps_delete_files(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(i, f"r{i}") for i in range(6)]))
    t.commit_delete_where(spark.createDataFrame([(0,), (5,)], "k INT"), key="k")
    expected = _rows(t.read())
    # vacuum keeping the delete-bearing version must NOT GC the key file
    t2 = VersionedTable(spark, root)
    t2.vacuum(keep_last=1)
    assert _rows(t2.read()) == expected
    v = t.compact(target_files=1)
    m = t.manifest(v)
    assert m["deletes"] == []  # materialized: merge-on-read debt repaid
    assert _rows(t.read()) == expected
    # merge_upsert on a table with deletes respects them
    t3 = VersionedTable(spark, root + "_m")
    t3.commit_append(_df(spark, [(1, "a"), (2, "b")]))
    t3.commit_delete_where(spark.createDataFrame([(1,)], "k INT"), key="k")
    t3.merge_upsert(_df(spark, [(2, "B")]), key="k")
    assert _rows(t3.read()) == [(2, "B")]


def test_timestamp_stats_prune_with_iso_bounds(spark, root):
    """Footer min/max for timestamp columns serialize as ISO-8601
    strings; ISO strings compare lexicographically == chronologically,
    so pruning bounds are passed in the same format."""
    t = VersionedTable(spark, root)
    df1 = spark.sql(
        "SELECT 1 AS k, TIMESTAMP '2024-01-01 00:00:00' AS ts"
    )
    df2 = spark.sql(
        "SELECT 2 AS k, TIMESTAMP '2025-06-15 12:00:00' AS ts"
    )
    t.commit_append(df1.coalesce(1))
    t.commit_append(df2.coalesce(1))
    kept, skipped = t.prune_files("ts", "2025-01-01T00:00:00", "2025-12-31T00:00:00")
    assert (len(kept), skipped) == (1, 1)
    got = t.read_pruned("ts", "2025-01-01T00:00:00", "2025-12-31T00:00:00")
    # row filter applies on the timestamp column itself (string bounds
    # coerce); exactly the 2025 row survives
    assert [r["k"] for r in got.collect()] == [2]


def test_overwrite_preserves_txn_idempotency_state(spark, root):
    """ADVICE r2: commit_overwrite used to publish a manifest WITHOUT
    the txns map, so an overwrite between streamed micro-batches erased
    exactly-once state and a replayed foreachBatch batch would commit
    duplicate rows. The overwrite must carry the map forward."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a")]), txn=("ingest", 0))
    t.commit_overwrite(_df(spark, [(9, "z")]))
    assert t.manifest().get("txns", {}).get("ingest") == 0
    # replay of batch 0 after the overwrite: still a no-op
    v = t.latest_version()
    assert t.commit_append(_df(spark, [(1, "dup")]), txn=("ingest", 0)) == v
    assert _rows(t.read()) == [(9, "z")]
    # overwrite sheds deletes (its files are all-new) but keeps txns
    t.commit_delete_where(spark.createDataFrame([(9,)], "k INT"), key="k")
    t.commit_overwrite(_df(spark, [(7, "q")]))
    m = t.manifest()
    assert m.get("deletes", []) == [] and m["txns"].get("ingest") == 0


def test_changes_applies_equality_deletes(spark, root):
    """ADVICE r2: changes() scanned added files with _scan, ignoring
    equality deletes — a changes(0) bootstrap materialized deleted
    rows. Deletes must sequence against the added files like read()."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b")]))          # v1
    t.commit_delete_where(spark.createDataFrame([(1,)], "k INT"), key="k")  # v2
    # bootstrap: deleted key must not appear
    assert _rows(t.changes(0).select("k", "v")) == [(2, "b")]
    # re-insert AFTER the delete: survives (Iceberg v2 sequencing)
    t.commit_append(_df(spark, [(1, "a2")]))                   # v3
    assert _rows(t.changes(0).select("k", "v")) == [(1, "a2"), (2, "b")]
    # incremental window past the delete sees only the re-insert
    assert _rows(t.changes(2).select("k", "v")) == [(1, "a2")]
    # in-range delete filters in-range adds: add at v4, delete at v5
    t.commit_append(_df(spark, [(5, "e"), (6, "f")]))          # v4
    t.commit_delete_where(spark.createDataFrame([(5,)], "k INT"), key="k")  # v5
    assert _rows(t.changes(3).select("k", "v")) == [(6, "f")]


def test_read_pruned_single_snapshot_resolution(spark, root, monkeypatch):
    """ADVICE r2: read_pruned resolved the manifest twice (prune + scan)
    so a commit landing between the calls mixed snapshots. It must
    resolve exactly once."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (200, "b")]))
    calls = {"n": 0}
    orig = t.manifest

    def counting_manifest(version=None):
        calls["n"] += 1
        return orig(version)

    monkeypatch.setattr(t, "manifest", counting_manifest)
    got = t.read_pruned("k", 100, None)
    assert calls["n"] == 1
    assert [r["k"] for r in got.collect()] == [200]


def test_merge_upsert_timestamp_key(spark, root):
    """ADVICE r2: merge_upsert computed datetime bounds but manifest
    stats store ISO strings — pruning raised TypeError for any
    timestamp/date merge key. Normalized bounds must prune correctly."""
    t = VersionedTable(spark, root)
    t.commit_append(
        spark.sql("SELECT TIMESTAMP '2024-01-01 00:00:00' AS ts, 'a' AS v").coalesce(1)
    )
    t.commit_append(
        spark.sql("SELECT TIMESTAMP '2025-06-15 12:00:00' AS ts, 'b' AS v").coalesce(1)
    )
    before_files = set(t.manifest()["files"])
    v = t.merge_upsert(
        spark.sql("SELECT TIMESTAMP '2025-06-15 12:00:00' AS ts, 'B' AS v"),
        key="ts",
    )
    got = sorted((str(r["ts"]), r["v"]) for r in t.read().collect())
    assert got == [("2024-01-01 00:00:00", "a"), ("2025-06-15 12:00:00", "B")]
    # stats pruning held: the 2024 file was carried over byte-identical
    after = t.manifest(v)["files"]
    assert any(f in before_files for f in after)


def test_merge_upsert_txn_idempotent(spark, root):
    """merge_upsert(txn=...) replays as a no-op: same (app, batch)
    twice must not double-apply, and the version must not advance."""
    t = VersionedTable(spark, root)
    t.commit_append(spark.sql("SELECT 1 AS k, 10 AS v").coalesce(1))
    up = spark.sql("SELECT 1 AS k, 11 AS v")
    v1 = t.merge_upsert(up, key="k", txn=("app", 5))
    v2 = t.merge_upsert(spark.sql("SELECT 1 AS k, 999 AS v"), key="k", txn=("app", 5))
    assert v2 == v1  # replay ignored
    assert [(r.k, r.v) for r in t.read().collect()] == [(1, 11)]
    # a LATER batch applies
    v3 = t.merge_upsert(spark.sql("SELECT 1 AS k, 12 AS v"), key="k", txn=("app", 6))
    assert v3 == v1 + 1
    assert [(r.k, r.v) for r in t.read().collect()] == [(1, 12)]


def test_continuous_aggregate_matches_full_recompute(spark, root, sf_dir):
    """After N incremental refreshes (with interleaved replays), the
    rollup equals a direct groupBy over everything committed."""
    import pyspark.sql.functions as F

    from unity_to_bigquery_spark.catalog import load_table
    from unity_to_bigquery_spark.plans.incremental_agg import ContinuousAggregate

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    src = VersionedTable(spark, os.path.join(root, "src"))
    agg = ContinuousAggregate(
        spark, src, os.path.join(root, "agg"),
        key="event_type", measures={"sum_value6": "value"},
    )
    assert agg.refresh() == 0  # nothing to do on an empty source
    for i in range(4):
        src.commit_append(ev.filter(F.col("event_id") % 4 == i))
        now = agg.refresh()
        assert now == src.latest_version()
        assert agg.refresh() == now  # replay is a no-op

    got = {
        r.event_type: (r.n, r.sum_value6) for r in agg.read().collect()
    }
    want = {
        r.event_type: (r.n, r.sum_value6)
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 1000000.0 + F.lit(0.5)).cast("long")).alias(
                "sum_value6"
            ),
        )
        .collect()
    }
    assert got == want


def test_continuous_aggregate_skips_unrefreshed_then_catches_up(spark, root):
    """Multiple source commits between refreshes fold in one delta."""
    from unity_to_bigquery_spark.plans.incremental_agg import ContinuousAggregate

    src = VersionedTable(spark, os.path.join(root, "src"))
    agg = ContinuousAggregate(
        spark, src, os.path.join(root, "agg"), key="k", measures={"s6": "x"}
    )
    src.commit_append(spark.sql("SELECT 'a' AS k, 1.5 AS x").coalesce(1))
    src.commit_append(spark.sql("SELECT 'a' AS k, 2.5 AS x").coalesce(1))
    src.commit_append(spark.sql("SELECT 'b' AS k, 1.0 AS x").coalesce(1))
    assert agg.refresh() == 3
    got = {r.k: (r.n, r.s6) for r in agg.read().collect()}
    assert got == {"a": (2, 4000000), "b": (1, 1000000)}


def test_check_constraints_enforced_and_carried(spark, root):
    """Delta-style CHECK constraints: enforced on append/merge, NULL
    passes (SQL CHECK), metadata survives unrelated commits, existing
    violations block add_constraint, drop lifts enforcement."""
    from unity_to_bigquery_spark.plans.versioned import ConstraintViolationError

    t = VersionedTable(spark, root)
    t.commit_append(spark.sql("SELECT 1 AS k, 10 AS v").coalesce(1))
    v = t.add_constraint("v_pos", "v > 0")
    assert t.constraints() == {"v_pos": "v > 0"}

    with pytest.raises(ConstraintViolationError, match="v_pos"):
        t.commit_append(spark.sql("SELECT 2 AS k, -5 AS v").coalesce(1))
    assert t.latest_version() == v  # rejected commit left no trace

    # NULL passes (standard CHECK semantics)
    t.commit_append(spark.sql("SELECT 3 AS k, CAST(NULL AS INT) AS v").coalesce(1))
    # constraint metadata carried through that commit
    assert t.constraints() == {"v_pos": "v > 0"}

    with pytest.raises(ConstraintViolationError):
        t.merge_upsert(spark.sql("SELECT 1 AS k, -1 AS v"), key="k")

    # existing data (v=10, NULL) violates v >= 100 → add refused
    with pytest.raises(ConstraintViolationError):
        t.add_constraint("v_big", "v >= 100")

    t.drop_constraint("v_pos")
    t.commit_append(spark.sql("SELECT 4 AS k, -5 AS v").coalesce(1))
    assert t.constraints() == {}
    got = sorted((r.k, r.v) for r in t.read().collect())
    assert got == [(1, 10), (3, None), (4, -5)]


def test_distinct_set_index_prunes_interleaved_categories(spark, root, sf_dir):
    """Each file holds exactly one source category but doc_ids (and the
    lexicographic source range) interleave — min/max prunes nothing,
    the distinct-set index prunes every non-matching file."""
    import pyspark.sql.functions as F

    from unity_to_bigquery_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    # doc_id is opted in too but exceeds the cardinality cap per file,
    # so it must record nothing (conservative fallback to min/max)
    t = VersionedTable(spark, root, distinct_index_cols=("source", "doc_id"))
    # one commit per source bucket -> files are single-category
    for bucket in range(4):
        t.commit_append(
            docs.filter(F.pmod(F.xxhash64("source"), F.lit(4)) == bucket).coalesce(1)
        )
    m = t.manifest()
    assert any(
        "distinct:source" in s for s in m["stats"].values()
    ), "distinct sets missing from manifest"

    some_source = docs.select("source").first().source
    files, skipped = t.prune_files_eq("source", [some_source])
    assert skipped >= 1, "no file was skipped by the distinct-set index"
    got = sorted(r.doc_id for r in t.read_pruned_eq("source", [some_source]).collect())
    want = sorted(
        r.doc_id for r in docs.filter(F.col("source") == some_source).collect()
    )
    assert got == want

    # a value that exists nowhere prunes every file
    files, skipped = t.prune_files_eq("source", ["no_such_source"])
    assert files == [] and skipped == len(m["files"])

    # high-cardinality column exceeded the cap -> falls back to min/max
    assert all(
        "distinct:doc_id" not in s for s in m["stats"].values()
    )


def test_maintain_policy_compacts_only_when_fragmented(spark, root):
    """maintain(): metadata-cheap no-op on a healthy table; compaction
    + vacuum when small files accumulate; content identical after."""
    t = VersionedTable(spark, root)
    for i in range(10):
        t.commit_append(spark.sql(f"SELECT {i} AS k").coalesce(1))
    before = sorted(r.k for r in t.read().collect())
    n_files = len(t.manifest()["files"])
    assert n_files == 10

    rep = t.maintain(max_small_files=8, vacuum_keep=1)
    assert rep["compacted"] and rep["n_small"] == 10 and rep["vacuumed"]
    assert len(t.manifest()["files"]) == 1
    assert sorted(r.k for r in t.read().collect()) == before

    v = t.latest_version()
    rep2 = t.maintain(max_small_files=8, vacuum_keep=1)
    assert not rep2["compacted"] and t.latest_version() == v  # healthy: no commit


def test_restore_rolls_back_without_losing_history(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a")]))
    t.commit_overwrite(_df(spark, [(9, "z")]))
    v3 = t.restore(1)
    assert v3 == 3
    assert _rows(t.read().select("k", "v")) == [(1, "a")]
    # history intact: the overwritten state is still time-travelable
    assert _rows(t.read(version=2).select("k", "v")) == [(9, "z")]
    # stats restored too: pruning works against the restored snapshot
    files, _ = t.prune_files("k", 5, 10)
    assert files == []  # restored file's k-range is [1,1]


def test_clone_shallow_and_deep(spark, root, tmp_path):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b")]))

    sh = t.clone_to(spark, str(tmp_path / "shallow"), shallow=True)
    assert _rows(sh.read().select("k", "v")) == [(1, "a"), (2, "b")]
    # metadata-only: no data files under the clone's own data dir
    import os as _os

    assert not any(
        f.endswith(".parquet")
        for _dp, _dn, fs in _os.walk(str(tmp_path / "shallow" / "data"))
        for f in fs
    )
    # clone commits never touch the source
    sh.commit_append(_df(spark, [(3, "c")]))
    assert t.read().count() == 2 and sh.read().count() == 3

    dp = t.clone_to(spark, str(tmp_path / "deep"), shallow=False)
    assert _rows(dp.read().select("k", "v")) == [(1, "a"), (2, "b")]
    # deep clone survives source vacuum/removal
    t.commit_overwrite(_df(spark, [(9, "z")]))
    t.vacuum(keep_last=1)
    assert _rows(dp.read().select("k", "v")) == [(1, "a"), (2, "b")]

    # stats carried: clone prunes like the source did
    files, skipped = dp.prune_files("k", 10, 20)
    assert files == []

    # delete-bearing snapshots refuse to clone (sequencing)
    t2 = VersionedTable(spark, str(tmp_path / "t2"))
    t2.commit_append(_df(spark, [(1, "a")]))
    t2.commit_delete_where(spark.sql("SELECT 1 AS k"), key="k")
    with pytest.raises(ValueError, match="delete-free"):
        t2.clone_to(spark, str(tmp_path / "c2"))


def test_version_at_timestamp_time_travel(spark, root):
    import time as _time

    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a")]))
    ts_between = _time.time()
    _time.sleep(0.02)
    t.commit_append(_df(spark, [(2, "b")]))
    assert t.version_at(ts_between) == 1
    assert t.version_at(_time.time()) == 2
    assert _rows(t.read(t.version_at(ts_between)).select("k", "v")) == [(1, "a")]
    with pytest.raises(NoSuchVersionError):
        t.version_at(0.0)


def test_export_manifest_interop_and_pinning(spark, tmp_path):
    """export_manifest lists exactly the snapshot's live files; DuckDB
    scans those paths directly and matches the table read; later
    commits don't mutate an existing export; delete-bearing snapshots
    are refused."""
    import duckdb

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    df = spark.range(100).selectExpr("id", "id % 5 AS k", "id * 2 AS v")
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.commit_append(df)
    export = t.export_manifest()
    paths = [ln.strip() for ln in open(export)]
    assert paths == sorted(paths) and paths
    con = duckdb.connect()
    duck_n, duck_sum = con.execute(
        "SELECT COUNT(*), SUM(v) FROM read_parquet(?)", [paths]
    ).fetchone()
    rows = t.read(1).agg({"v": "sum"}).collect()[0][0]
    assert duck_n == 100 and int(duck_sum) == int(rows)

    before = open(export, "rb").read()
    t.commit_append(df.limit(3))
    assert open(export, "rb").read() == before  # pinned: v1 export untouched
    export2 = t.export_manifest()  # latest export sees both commits
    paths2 = [ln.strip() for ln in open(export2)]
    assert set(paths) < set(paths2)
    n2 = con.execute(
        "SELECT COUNT(*) FROM read_parquet(?)", [paths2]
    ).fetchone()[0]
    assert n2 == 103
    # re-export is content-stable
    assert open(t.export_manifest(1), "rb").read() == before

    t.commit_delete_where(df.limit(2).select("id"), key="id")
    import pytest

    with pytest.raises(ValueError, match="delete-free"):
        t.export_manifest()


def test_partition_spec_evolution(spark, tmp_path):
    """set_partitioning changes FUTURE write layout without rewriting
    history; mixed-layout reads stay correct; replace_where refuses
    when pre-evolution files may hold touched rows, allows when stats
    prove disjointness, and works fully after compact() rewrites the
    table under the current spec; a fresh instance with no constructor
    hint picks up the evolved spec from the log."""
    import os

    import pyspark.sql.functions as F
    import pytest

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    df1 = spark.range(10).selectExpr(
        "CASE WHEN id < 5 THEN 'a' ELSE 'b' END AS k1",
        "CAST(id % 3 AS INT) AS k2",
        "id AS v",
    )
    t = VersionedTable(spark, str(tmp_path / "tbl"), partition_col="k1")
    t.commit_append(df1.coalesce(1))
    assert t.current_partition_col() == "k1"

    t.set_partitioning("k2")
    assert t.current_partition_col() == "k2"

    # a fresh handle with NO constructor hint reads the spec off the log
    t2 = VersionedTable(spark, str(tmp_path / "tbl"))
    assert t2.current_partition_col() == "k2"

    # future writes lay out under the new spec; old files untouched
    df2 = spark.range(10, 20).selectExpr(
        "'c' AS k1", "CAST(3 + id % 2 AS INT) AS k2", "id AS v"
    )
    t2.commit_append(df2.coalesce(1))
    newest = [
        f for f in t2.manifest()["files"]
        if f not in set(t.manifest(2)["files"])
    ]
    assert newest and all("__p_k2=" in f for f in newest)
    assert sum(1 for f in t2.manifest()["files"] if "__p_k1=" in f) > 0

    # mixed-layout read: everything present
    assert t2.read().count() == 20
    assert t2.read().filter(F.col("k2") == 3).count() == \
        df2.filter(F.col("k2") == 3).count()

    # replace_where on a k2 value present in pre-evolution files: refuse
    with pytest.raises(ValueError, match="predates the current partition spec"):
        t2.commit_replace_where(
            spark.range(0).selectExpr("'x' AS k1", "CAST(0 AS INT) AS k2", "id AS v"),
            [0],
        )
    # ...but a value provably OUTSIDE old files' k2 range is allowed
    repl = spark.sql(
        "SELECT 'c' AS k1, CAST(4 AS INT) AS k2, CAST(99 AS BIGINT) AS v"
    )
    t2.commit_replace_where(repl.coalesce(1), [4])
    assert t2.read().filter("k2 = 4").count() == 1
    assert t2.read().count() == 20 - df2.filter("k2 = 4").count() + 1

    # compact rewrites everything under the current spec: replace_where
    # on any k2 value now works
    t2.compact(target_files=1)
    assert all("__p_k2=" in f for f in t2.manifest()["files"])
    n_before = t2.read().count()
    n_k2_0 = t2.read().filter("k2 = 0").count()
    t2.commit_replace_where(
        spark.sql("SELECT 'z' AS k1, CAST(0 AS INT) AS k2, CAST(1000 AS BIGINT) AS v""").coalesce(1),
        [0],
    )
    assert t2.read().count() == n_before - n_k2_0 + 1


def test_positional_deletes_read_and_time_travel(spark, root):
    """Iceberg-v2-style position deletes: (file, row_index) pairs as a
    merge-on-read commit; reads exclude exactly those rows, time
    travel still sees them, compose with equality deletes."""
    import pyspark.sql.functions as F

    t = VersionedTable(spark, root)
    # one sorted file: row_index == k by construction
    v1 = t.commit_append(
        spark.createDataFrame([(k, f"v{k}") for k in range(10)], "k INT, v STRING")
        .orderBy("k")
        .coalesce(1)
    )
    f0 = t.manifest()["files"][0]
    v2 = t.commit_delete_positions(
        spark.createDataFrame([(f0, 2), (f0, 5)], "file STRING, pos BIGINT")
    )
    assert sorted(r.k for r in t.read().collect()) == [0, 1, 3, 4, 6, 7, 8, 9]
    assert sorted(r.k for r in t.read(v1).collect()) == list(range(10))
    # the deletion vector is decoded on the driver: applying it starts
    # no Python worker and shuffles nothing
    for df in (t.read(), t.read_pruned_point("k", 3)):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
    assert t.read_pruned_point("k", 5).count() == 0

    # composes with an equality delete (k=7) on the same file
    t.commit_delete_where(spark.createDataFrame([(7,)], "k INT"), "k")
    assert sorted(r.k for r in t.read().collect()) == [0, 1, 3, 4, 6, 8, 9]

    # appended files are untouched by prior positional deletes, and a
    # new row landing at the SAME row_index in a NEW file survives
    t.commit_append(
        spark.createDataFrame([(100 + i, f"n{i}") for i in range(6)], "k INT, v STRING")
        .orderBy("k")
        .coalesce(1)
    )
    got = sorted(r.k for r in t.read().collect())
    assert got == [0, 1, 3, 4, 6, 8, 9] + [100 + i for i in range(6)]

    # compact materializes the deletes and SHEDS the entries
    t.compact()
    m = t.manifest()
    assert m["pos_deletes"] == [] and m["deletes"] == []
    assert sorted(r.k for r in t.read().collect()) == got

    # validation: unknown target file is loud
    with pytest.raises(ValueError, match="not in the live manifest"):
        t.commit_delete_positions(
            spark.createDataFrame([("nope.parquet", 0)], "file STRING, pos BIGINT")
        )
    with pytest.raises(ValueError, match="empty pair set"):
        t.commit_delete_positions(
            spark.createDataFrame([], "file STRING, pos BIGINT")
        )


def test_positional_deletes_cdc_emission(spark, root):
    """Round 8: a delete_positions commit is EXPRESSIBLE in the change
    feed — the killed rows are concrete rows of live files, emitted as
    full-row 'delete' retractions (previously a loud compact-first
    error). Folding the feed reproduces the live snapshot; already-dead
    ordinals never re-emit."""
    t = VersionedTable(spark, root)
    t.commit_append(
        spark.createDataFrame([(k, f"v{k}") for k in range(8)], "k INT, v STRING")
        .orderBy("k")
        .coalesce(1)
    )
    f0 = t.manifest()["files"][0]
    v_pos = t.commit_delete_positions(
        spark.createDataFrame([(f0, 1)], "file STRING, pos BIGINT")
    )
    feed = t.changes_with_type(0).collect()
    assert sorted(
        (r.k, r._change_type, r._commit_version) for r in feed
    ) == sorted(
        [(k, "insert", 1) for k in range(8)] + [(1, "delete", v_pos)]
    )
    # batch changes() (add-only) still works: pairs filter added files
    assert sorted(r.k for r in t.changes(0).collect()) == [0, 2, 3, 4, 5, 6, 7]
    # a SECOND pos-delete on the same file kills only its new ordinal
    # (row 1 is already dead under the prior entry — no double emit)
    v_pos2 = t.commit_delete_positions(
        spark.createDataFrame([(f0, 1), (f0, 3)], "file STRING, pos BIGINT")
    )
    got = t.changes_with_type(v_pos).collect()
    assert [(r.k, r._change_type) for r in got] == [(3, "delete")]
    # an equality delete of an already-pos-dead key emits nothing
    t.commit_delete_where(spark.createDataFrame([(3,)], "k INT"), "k")
    assert t.changes_with_type(v_pos2).count() == 0
    v_c = t.compact()
    t.commit_append(spark.createDataFrame([(99, "z")], "k INT, v STRING"))
    got = t.changes_with_type(v_c).collect()
    assert [(r.k, r._change_type) for r in got] == [(99, "insert")]
    # full-history fold still reproduces the live snapshot
    live = set()
    for r in sorted(
        t.changes_with_type(0).collect(), key=lambda r: r._commit_version
    ):
        (live.add if r._change_type == "insert" else live.discard)((r.k, r.v))
    assert live == {(r.k, r.v) for r in t.read().collect()}


# ---- ADVICE-r7 positional-delete lifecycle fixes ----------------------


def _pos_table(spark, root, lo=0, hi=10):
    """One sorted single-file commit: row_index == k - lo."""
    t = VersionedTable(spark, root)
    t.commit_append(
        spark.createDataFrame(
            [(k, f"v{k}") for k in range(lo, hi)], "k INT, v STRING"
        ).orderBy("k").coalesce(1)
    )
    return t, t.manifest()["files"][0]


def test_vacuum_retains_pos_delete_pair_files(spark, root):
    """vacuum() (and maintain()) must treat pos-delete pair files as
    live: they are .parquet under DATA_DIR but never in m['files'] —
    the r7 walk deleted them and every later read died (ADVICE r7)."""
    t, f0 = _pos_table(spark, root)
    t.commit_delete_positions(
        spark.createDataFrame([(f0, 2), (f0, 5)], "file STRING, pos BIGINT")
    )
    t.commit_append(spark.createDataFrame([(99, "z")], "k INT, v STRING"))
    m = t.manifest()
    pair_files = {d["file"] for d in m["pos_deletes"]}
    removed = t.vacuum(keep_last=1)
    # the pair files survived the walk and the read still applies them
    assert not pair_files & set(removed)
    got = sorted(r.k for r in t.read().collect())
    assert got == [0, 1, 3, 4, 6, 7, 8, 9, 99]
    # maintain() (vacuum_keep=2) is equally safe
    t.maintain(max_small_files=100)  # no compaction, vacuum only
    assert sorted(r.k for r in t.read().collect()) == got


def test_restore_carries_pos_delete_state(spark, root):
    """restore() must publish the TARGET version's pos_deletes, not the
    current manifest's filtered view (ADVICE r7): restoring to a
    pre-delete version revives the rows; restoring to the delete
    version re-applies exactly its pairs."""
    t, f0 = _pos_table(spark, root)
    v1 = 1
    v2 = t.commit_delete_positions(
        spark.createDataFrame([(f0, 2), (f0, 5)], "file STRING, pos BIGINT")
    )
    # restore to BEFORE the pos delete: rows 2 and 5 are live again
    t.restore(v1)
    assert sorted(r.k for r in t.read().collect()) == list(range(10))
    # restore to the delete version: pairs apply again
    t.restore(v2)
    assert sorted(r.k for r in t.read().collect()) == [0, 1, 3, 4, 6, 7, 8, 9]
    # materialize via compact, then restore to v2 once more — the old
    # pair file still exists (vacuum not run) so the view is exact
    t.compact()
    assert t.manifest()["pos_deletes"] == []
    t.restore(v2)
    assert sorted(r.k for r in t.read().collect()) == [0, 1, 3, 4, 6, 7, 8, 9]


def test_clone_refuses_live_pos_deletes(spark, root, tmp_path):
    """clone_to() must refuse a snapshot with live positional deletes —
    copying data files without the pair files resurrects rows."""
    t, f0 = _pos_table(spark, root)
    t.commit_delete_positions(
        spark.createDataFrame([(f0, 2)], "file STRING, pos BIGINT")
    )
    with pytest.raises(ValueError, match="delete-free"):
        t.clone_to(spark, str(tmp_path / "clone"))
    t.compact()
    c = t.clone_to(spark, str(tmp_path / "clone2"))
    assert sorted(r.k for r in c.read().collect()) == [0, 1, 3, 4, 5, 6, 7, 8, 9]


def test_cdc_applies_carried_pos_deletes_across_rewrite(spark, root):
    """ADVICE r7 #4: a merge_upsert rewriting ONE target of a
    multi-target pos-delete entry while the other survives used to slip
    past the length-only guard and emit the rewritten file's
    pos-deleted rows as spurious retractions. Now the guard admits the
    carried entry and the per-file scans apply the pairs: folding the
    feed over the baseline snapshot reproduces the live table."""
    t, fA = _pos_table(spark, root, 0, 10)
    t.commit_append(
        spark.createDataFrame(
            [(k, f"v{k}") for k in range(100, 110)], "k INT, v STRING"
        ).orderBy("k").coalesce(1)
    )
    fB = [f for f in t.manifest()["files"] if f != fA][0]
    # one entry, two targets: kill k=3 (fA row 3) and k=104 (fB row 4)
    v_pos = t.commit_delete_positions(
        spark.createDataFrame([(fA, 3), (fB, 4)], "file STRING, pos BIGINT")
    )
    # rewrite fA only (range-pruned merge); fB survives, entry carried
    t.merge_upsert(
        spark.createDataFrame([(1, "UPD")], "k INT, v STRING"), "k"
    )
    assert t.manifest()["pos_deletes"], "entry must be carried"
    feed = t.changes_with_type(v_pos).collect()
    ks = {(r.k, r._change_type) for r in feed}
    # no spurious retraction of the pos-deleted rows
    assert (3, "delete") not in ks and (3, "insert") not in ks
    assert not any(r.k == 104 for r in feed)
    # fold: baseline at v_pos + feed == live snapshot
    base = {(r.k, r.v) for r in t.read(v_pos).collect()}
    for r in feed:
        if r._change_type == "delete":
            base.discard((r.k, r.v))
        else:
            base.add((r.k, r.v))
    assert base == {(r.k, r.v) for r in t.read().collect()}


def test_cdc_pos_revival_emits_inserts(spark, root):
    """Round 9 (VERDICT r8 #3): a restore reviving pos-deleted rows
    while their file survives — formerly the last inexpressible commit
    shape (loud error) — now emits the revived ordinals as full-row
    'insert' rows, keylessly. Window folds stay exact, and
    changes_final_state over the restore collapses correctly."""
    t, fA = _pos_table(spark, root)
    v1 = 1
    v_pos = t.commit_delete_positions(
        spark.createDataFrame([(fA, 1)], "file STRING, pos BIGINT")
    )
    got = t.changes_with_type(v1).collect()
    assert [(r.k, r._change_type) for r in got] == [(1, "delete")]
    # restore to the pre-delete version drops the entry while the
    # target survives: the revived row comes back as an insert
    v_rest = t.restore(v1)
    got = t.changes_with_type(v_pos).collect()
    assert [(r.k, r._change_type, r._commit_version) for r in got] == [
        (1, "insert", v_rest)
    ]
    # spanning window (delete + revival): fold == live snapshot
    base = {(r.k, r.v) for r in t.read(v1).collect()}
    for r in t.changes_with_type(v1).collect():
        if r._change_type == "delete":
            base.discard((r.k, r.v))
        else:
            base.add((r.k, r.v))
    assert base == {(r.k, r.v) for r in t.read().collect()}
    # net per-key effect across delete+revival: one upsert (re-live),
    # never a spurious delete
    fs = t.changes_final_state("k", v_pos).collect()
    assert [(r.k, r._change_type) for r in fs] == [(1, "upsert")]
    # over the whole window, cross-commit delete+revival collapses to
    # ONE upsert (the documented contract: unchanged-drop applies only
    # to same-commit rewrite churn, not cross-commit re-inserts)
    fs = t.changes_final_state("k", v1).collect()
    assert [(r.k, r._change_type) for r in fs] == [(1, "upsert")]


def test_cdc_pos_revival_respects_equality_and_kept_entries(spark, root):
    """Revival exclusions are exact: ordinals still dead under a KEPT
    pos entry don't revive; rows equality-dead under the new state
    don't revive; a simultaneous equality-entry drop emits each row
    exactly once."""
    t, fA = _pos_table(spark, root)  # k=0..9, one file
    v1 = 1
    # two separate pos-delete commits: ordinals 1 and 2
    t.commit_delete_positions(
        spark.createDataFrame([(fA, 1)], "file STRING, pos BIGINT")
    )
    v_p2 = t.commit_delete_positions(
        spark.createDataFrame([(fA, 2)], "file STRING, pos BIGINT")
    )
    # equality-delete k=5, then restore to v_p2 (drops ordinal-2 entry?
    # no: restore to the state where BOTH pos entries exist but the
    # equality delete doesn't — revives nothing positionally)
    v_eq = t.commit_delete_where(spark.createDataFrame([(5,)], "k INT"), "k")
    t.restore(v_p2)
    got = sorted(
        (r.k, r._change_type) for r in t.changes_with_type(v_eq).collect()
    )
    assert got == [(5, "insert")]  # equality revival only, no pos rows
    # now restore to the state with ONE pos entry (ordinal 1 dead,
    # ordinal 2 revived) — exactly k=2 comes back
    v_before = t.latest_version()
    t.restore(2)  # version 2 = first pos-delete commit
    got = sorted(
        (r.k, r._change_type) for r in t.changes_with_type(v_before).collect()
    )
    assert got == [(2, "insert")]
    assert sorted(r.k for r in t.read().collect()) == [0, 2, 3, 4, 5, 6, 7, 8, 9]


def test_streaming_cdc_applies_carried_pos_deletes(spark, root, tmp_path):
    """Streaming twin of the carried-entry fix: the CDC stream over a
    partial rewrite excludes pos-deleted rows from the per-file reads
    (pos_anti ordinals), matching the batch feed exactly."""
    from unity_to_bigquery_spark.sources import versioned_stream as vs

    t, fA = _pos_table(spark, root, 0, 10)
    t.commit_append(
        spark.createDataFrame(
            [(k, f"v{k}") for k in range(100, 110)], "k INT, v STRING"
        ).orderBy("k").coalesce(1)
    )
    fB = [f for f in t.manifest()["files"] if f != fA][0]
    v_pos = t.commit_delete_positions(
        spark.createDataFrame([(fA, 3), (fB, 4)], "file STRING, pos BIGINT")
    )
    t.merge_upsert(
        spark.createDataFrame([(1, "UPD")], "k INT, v STRING"), "k"
    )
    vs.register(spark)
    out = str(tmp_path / "drain")
    ckpt = str(tmp_path / "ckpt")
    (
        spark.readStream.format("versioned_table")
        .option("path", root)
        .option("starting_version", str(v_pos))
        .option("emit_change_types", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    got = spark.read.parquet(out)
    batch = t.changes_with_type(v_pos)
    cols = ["k", "v", "_change_type"]
    assert _rows(got.select(*cols)) == _rows(batch.select(*cols))


def test_streaming_cdc_pos_delete_emission(spark, root, tmp_path):
    """Streaming twin of pos-delete CDC emission: a delete_positions
    commit drains as 'delete' retractions of exactly the killed
    ordinals, matching the batch feed."""
    from unity_to_bigquery_spark.sources import versioned_stream as vs

    t, fA = _pos_table(spark, root, 0, 10)
    v1 = 1
    t.commit_delete_positions(
        spark.createDataFrame([(fA, 2), (fA, 5)], "file STRING, pos BIGINT")
    )
    # second entry on the same file: only the new ordinal emits
    t.commit_delete_positions(
        spark.createDataFrame([(fA, 2), (fA, 7)], "file STRING, pos BIGINT")
    )
    vs.register(spark)
    out = str(tmp_path / "drain")
    ckpt = str(tmp_path / "ckpt")
    (
        spark.readStream.format("versioned_table")
        .option("path", root)
        .option("starting_version", str(v1))
        .option("emit_change_types", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    got = spark.read.parquet(out)
    cols = ["k", "v", "_change_type", "_commit_version"]
    assert _rows(got.select(*cols)) == _rows(
        t.changes_with_type(v1).select(*cols)
    )
    assert sorted(r.k for r in got.collect()) == [2, 5, 7]


def test_changes_final_state(spark, root):
    """changes_final_state: net per-key effect over a window — updates
    collapse to one upsert, delete+reinsert collapses to upsert, pos
    deletes surface as typed deletes, pure-churn keys are dropped."""
    t, fA = _pos_table(spark, root, 1, 7)  # k=1..6, row_index = k-1
    t.commit_append(
        spark.createDataFrame(
            [(k, f"v{k}") for k in range(100, 106)], "k INT, v STRING"
        ).orderBy("k").coalesce(1)
    )  # fB: row_index = k-100
    fB = [f for f in t.manifest()["files"] if f != fA][0]
    v_base = 2
    # merge rewrites fA only (range-pruned); fB survives untouched
    t.merge_upsert(spark.createDataFrame([(2, "UPD")], "k INT, v STRING"), "k")
    t.commit_delete_where(spark.createDataFrame([(3,)], "k INT"), "k")
    t.commit_delete_positions(
        spark.createDataFrame([(fB, 4)], "file STRING, pos BIGINT")  # k=104
    )
    t.commit_append(spark.createDataFrame([(3, "back")], "k INT, v STRING"))
    final = t.changes_final_state("k", v_base)
    got = sorted((r.k, r.v, r._change_type) for r in final.collect())
    assert got == [
        (2, "UPD", "upsert"),
        (3, "back", "upsert"),
        (104, "v104", "delete"),
    ]
    # from zero every surviving key is an upsert; dead keys delete
    final0 = {
        (r.k, r._change_type) for r in t.changes_final_state("k", 0).collect()
    }
    assert final0 == (
        {(k, "upsert") for k in (1, 2, 3, 4, 5, 6)}
        | {(k, "upsert") for k in range(100, 106) if k != 104}
        | {(104, "delete")}
    )
    # fold identity: applying the final states to the base snapshot
    # reproduces the live table
    base = {r.k: r.v for r in t.read(v_base).collect()}
    for r in t.changes_final_state("k", v_base).collect():
        if r._change_type == "delete":
            base.pop(r.k, None)
        else:
            base[r.k] = r.v
    assert base == {r.k: r.v for r in t.read().collect()}


def test_tags_protect_snapshots_from_vacuum(spark, root):
    """Iceberg-style tags: a tagged version's manifest AND files
    survive vacuum past any horizon; untagged history is collected;
    dropping the tag releases it to GC."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b")]))
    t.create_tag("release-1")
    assert t.tags() == {"release-1": 1}
    t.commit_overwrite(_df(spark, [(9, "z")]))
    t.commit_overwrite(_df(spark, [(10, "y")]))
    deleted = t.vacuum(keep_last=1)
    # v2's files collected, v1's (tagged) files retained
    assert deleted  # the middle overwrite was GC'd
    assert _rows(t.read_tag("release-1").select("k", "v")) == [(1, "a"), (2, "b")]
    assert _rows(t.read().select("k", "v")) == [(10, "y")]
    with pytest.raises(NoSuchVersionError):
        t.read(version=2)  # untagged history is gone
    # re-pin guard + idempotent re-create
    assert t.create_tag("release-1", 1) == 1
    with pytest.raises(ValueError, match="already points"):
        t.create_tag("release-1", 3)
    with pytest.raises(NoSuchVersionError):
        t.create_tag("bad", 99)
    # drop releases to GC
    t.drop_tag("release-1")
    t.vacuum(keep_last=1)
    with pytest.raises(NoSuchVersionError):
        t.read_tag("release-1")
    with pytest.raises(NoSuchVersionError):
        t.read(version=1)


def test_bloom_index_point_lookup_pruning(spark, root):
    """Per-file bloom index: point lookups skip most files (fp-rate
    bounded by sizing), NEVER skip the file holding the value (no
    false negatives), and the pruned read equals the full filter."""
    t = VersionedTable(spark, root, bloom_index_cols=("k",),
                       bloom_bits=8192, bloom_hashes=3)
    # 16 commits of 500 disjoint keys each -> 16 files, a key lives in
    # exactly one
    for i in range(16):
        t.commit_append(
            spark.createDataFrame(
                [(i * 500 + j, f"v{i * 500 + j}") for j in range(500)],
                "k INT, v STRING",
            ).coalesce(1)
        )
    total = len(t.manifest()["files"])
    assert total == 16
    # no false negatives: probe one present key per file
    for i in range(16):
        key = i * 500 + 7
        kept, skipped = t.prune_files_bloom("k", key)
        assert skipped > 0, "bloom never pruned anything"
        got = _rows(t.read_pruned_point("k", key).select("k", "v"))
        assert got == [(key, f"v{key}")]
    # aggregate pruning power across 50 probes (n=500, m=8192, kh=3 ->
    # per-file fp ~ 1.7%; expect ~1 surviving file per probe)
    kept_counts = [
        len(t.prune_files_bloom("k", i * 37)[0]) for i in range(50)
    ]
    assert sum(kept_counts) / len(kept_counts) < 3
    # absent key: every file may be skipped; the read returns nothing
    assert t.read_pruned_point("k", 10_000_000).count() == 0
    # merge-on-read deletes still apply through the pruned scan
    t.commit_delete_where(spark.createDataFrame([(7,)], "k INT"), "k")
    assert t.read_pruned_point("k", 7).count() == 0


def test_bloom_lookup_type_mismatch_raises(spark, root):
    """ADVICE r8: the bloom index hashes str(value), so a lookup whose
    Python type renders differently from the stored values (5.0 vs 5)
    would silently prune every file. It must raise instead."""
    t = VersionedTable(spark, root, bloom_index_cols=("k",))
    t.commit_append(_df(spark, [(1, "a"), (2, "b")]))
    for bad in (5.0, True, None, b"5"):
        with pytest.raises(TypeError, match="bloom point lookup"):
            t.prune_files_bloom("k", bad)
    # int column + str key (and the reverse) is the classic mismatch
    with pytest.raises(TypeError, match="pass an int"):
        t.read_pruned_point("k", "1")
    with pytest.raises(TypeError, match="pass a str"):
        t.read_pruned_point("v", 1)
    # well-typed lookups still work
    assert _rows(t.read_pruned_point("k", 1).select("k", "v")) == [(1, "a")]


def test_tag_cas_per_ref_files(spark, root):
    """ADVICE r8: tags are one O_EXCL file per ref — two 'concurrent'
    taggers (simulated: each saw an empty tags() snapshot) can never
    drop each other's refs, and a CAS loser pointing elsewhere fails
    loudly instead of silently winning."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a")]))
    t.commit_append(_df(spark, [(2, "b")]))
    h2 = VersionedTable(spark, root)  # second writer handle
    t.create_tag("x", 1)
    h2.create_tag("y", 2)
    assert t.tags() == {"x": 1, "y": 2}  # neither lost
    # per-ref file layout (the CAS unit)
    refs = sorted(os.listdir(os.path.join(root, "_refs")))
    assert refs == ["tag-x.json", "tag-y.json"]
    # CAS-loser path: a racer created the ref between the tags() read
    # and the O_EXCL open — same version is idempotent, different raises
    orig = VersionedTable.tags
    try:
        VersionedTable.tags = lambda self: {}
        assert t.create_tag("x", 1) == 1
        with pytest.raises(ValueError, match="concurrently created"):
            t.create_tag("x", 2)
    finally:
        VersionedTable.tags = orig
    # invalid ref names are rejected before touching the filesystem
    with pytest.raises(ValueError, match="ref name"):
        t.create_tag("../evil", 1)
    t.drop_tag("x")
    t.drop_tag("x")  # idempotent
    assert t.tags() == {"y": 2}


def test_transform_partition_spec_layout_and_pruning(spark, root):
    """Iceberg-style hidden partitioning (VERDICT r8 #2): a
    two-dimension (day(ts), bucket(4, site)) spec lays out files by
    transform values, records per-file partition tuples in the
    manifest, and equality lookups on the SOURCE columns prune files
    exactly — the caller never names a partition field."""
    import datetime as dt

    t = VersionedTable(
        spark, root, partition_spec=["day(ts)", "bucket(4, site)"]
    )
    rows = [
        (i, f"s{i % 8}", dt.datetime(2024, 1, 1 + (i % 3), 6 + i % 12, 0, 0))
        for i in range(48)
    ]
    t.commit_append(
        spark.createDataFrame(rows, "k INT, site STRING, ts TIMESTAMP")
    )
    m = t.manifest()
    # layout: nested __p_ts_day=…/__p_site_bucket4=… directories
    assert all("__p_ts_day=" in f and "__p_site_bucket4=" in f
               for f in m["files"])
    # the derived fields are HIDDEN: stored columns only
    assert sorted(t.read().columns) == ["k", "site", "ts"]
    # per-file partition tuple recorded in stats
    some = m["stats"][m["files"][0]]
    assert "part:ts_day" in some and "part:site_bucket4" in some
    # pruning: one (day, site) lookup keeps only that tuple's files
    filt = {"ts": dt.date(2024, 1, 2), "site": "s3"}
    kept, skipped = t.prune_files_parts(filt)
    assert skipped > 0 and len(kept) < len(m["files"])
    # exactness: pruned read == unpruned filter
    import zlib
    expect = sorted(
        k for (k, s, ts) in rows
        if s == "s3" and ts.date() == dt.date(2024, 1, 2)
    )
    got = sorted(r.k for r in t.read_pruned_parts(filt).collect())
    assert got == expect and got  # non-vacuous
    # bucket portability: driver crc32 == what the layout recorded
    b = str(zlib.crc32(b"s3") % 4)
    assert all(f"__p_site_bucket4={b}" in f for f in kept
               if "part:site_bucket4" in m["stats"].get(f, {}))


def test_partition_spec_evolution_mixed_layout(spark, root):
    """Spec evolution is metadata-only: files written under the old
    spec stay readable and are conservatively KEPT by pruning under
    the new spec; compact() rewrites everything under the current
    spec; replace_where refuses on transform specs."""
    import datetime as dt

    t = VersionedTable(spark, root, partition_col="site")
    rows1 = [(1, "a", dt.datetime(2024, 2, 1)), (2, "b", dt.datetime(2024, 2, 2))]
    t.commit_append(spark.createDataFrame(rows1, "k INT, site STRING, ts TIMESTAMP"))
    t.set_partition_spec(["day(ts)", "truncate(1, site)"])
    assert t.current_partition_col() is None
    with pytest.raises(ValueError, match="requires a partitioned table"):
        t.commit_replace_where(
            spark.createDataFrame(rows1, "k INT, site STRING, ts TIMESTAMP"),
            ["a"],
        )
    rows2 = [(3, "abba", dt.datetime(2024, 2, 1)), (4, "bozo", dt.datetime(2024, 2, 3))]
    t.commit_append(spark.createDataFrame(rows2, "k INT, site STRING, ts TIMESTAMP"))
    # mixed-layout read: everything visible
    assert sorted(r.k for r in t.read().collect()) == [1, 2, 3, 4]
    # pruning under the new spec: old files kept (no part:ts_day stat),
    # new files pruned; result exact either way
    got = sorted(
        r.k for r in t.read_pruned_parts({"ts": dt.date(2024, 2, 1)}).collect()
    )
    assert got == [1, 3]
    kept, skipped = t.prune_files_parts({"ts": dt.date(2024, 2, 1)})
    assert skipped >= 1  # the 2024-02-03 new-spec file is provably out
    # compact clears the mixture: every file under the current spec
    t.compact(target_files=1)
    assert all("__p_ts_day=" in f and "__p_site_trunc1=" in f
               for f in t.manifest()["files"])
    got = sorted(
        r.k for r in t.read_pruned_parts({"site": "abba"}).collect()
    )
    assert got == [3]
    # truncate pruning is by PREFIX group, exact rows after filter
    kept, skipped = t.prune_files_parts({"site": "bozo"})
    assert skipped >= 1


def test_partition_spec_rejects_bad_fields(spark, root):
    t = VersionedTable(spark, root)
    with pytest.raises(ValueError, match="unparseable"):
        VersionedTable(spark, root + "2", partition_spec=["median(x)"])
    with pytest.raises(ValueError, match="duplicate"):
        VersionedTable(spark, root + "3", partition_spec=["x", "identity(x)"])
    t2 = VersionedTable(spark, root + "4", partition_spec=["bucket(4, v)"])
    import datetime as dt
    with pytest.raises(TypeError, match="must be int or string"):
        t2.commit_append(
            spark.createDataFrame([(1.5,)], "v DOUBLE")
        )
    t3 = VersionedTable(spark, root + "5", partition_spec=["day(ts)"])
    t3.commit_append(
        spark.createDataFrame([(dt.datetime(2024, 1, 1),)], "ts TIMESTAMP")
    )
    with pytest.raises(TypeError, match="requires a date"):
        t3.prune_files_parts({"ts": "2024-01-01"})


def test_branch_isolated_writes_and_fast_forward_publish(spark, root):
    """Write-audit-publish: commits on a branch are invisible to main
    (including merge-on-read deletes), auditing reads the branch like
    any table, and publish lands the WHOLE branch state as ONE main
    commit with sequencing intact."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b")]))
    base = t.create_branch("audit")
    b = t.branch("audit")
    b.commit_append(_df(spark, [(3, "c"), (4, "d")]))
    b.commit_delete_where(spark.createDataFrame([(2,)], "k INT"), "k")
    b.commit_append(_df(spark, [(2, "b2")]))  # re-insert AFTER delete
    # isolation: main unchanged, branch sees its own line
    assert _rows(t.read().select("k", "v")) == [(1, "a"), (2, "b")]
    assert _rows(b.read().select("k", "v")) == [
        (1, "a"), (2, "b2"), (3, "c"), (4, "d")
    ]
    assert t.branches()["audit"] == {"base": base, "head": base + 3}
    # publish: ONE atomic main commit; delete sequencing (the post-
    # delete re-insert must survive) copied verbatim
    v = t.publish_branch("audit")
    assert v == base + 1  # exactly one new main version
    assert _rows(t.read().select("k", "v")) == [
        (1, "a"), (2, "b2"), (3, "c"), (4, "d")
    ]
    assert t.manifest()["op"] == "publish(audit)"
    assert "audit" not in t.branches()  # dropped after publish
    # CDC across the publish: one commit's worth of frames, exact
    feed = t.changes_with_type(base)
    eff = {}
    for r in feed.collect():
        assert r._commit_version == v
        if r._change_type == "insert":
            eff[r.k] = r.v
        else:
            eff.pop(r.k, None)
    assert eff == {2: "b2", 3: "c", 4: "d"}


def test_branch_publish_races_and_cherry_pick(spark, root):
    """Publish vs a racing main commit: an append-only branch
    cherry-picks onto the moved main; a non-append branch over a
    PURE-APPEND main movement now REBASES (round 12) when its delete
    keys are provably disjoint from the interleaved files."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a")]))
    t.create_branch("adds")
    t.branch("adds").commit_append(_df(spark, [(2, "b")]))
    t.commit_append(_df(spark, [(9, "z")]))  # main moves past the fork
    t.publish_branch("adds")
    assert _rows(t.read().select("k", "v")) == [(1, "a"), (2, "b"), (9, "z")]
    # non-append branch + pure-append main movement -> sound REBASE
    # (pre-r12 this refused wholesale): the branch's delete of k=9
    # applies to the fork rows, the interleaved append (k=10) rides
    t.create_branch("dels")
    b = t.branch("dels")
    b.commit_delete_where(spark.createDataFrame([(9,)], "k INT"), "k")
    t.commit_append(_df(spark, [(10, "y")]).coalesce(1))
    v0 = t.latest_version()
    t.publish_branch("dels")
    assert _rows(t.read().select("k", "v")) == [(1, "a"), (2, "b"), (10, "y")]
    # CDC across the rebased publish: exactly the delete of 9
    feed = [(r.k, r._change_type)
            for r in t.changes_with_type(v0).collect()]
    assert feed == [(9, "delete")]
    # empty branch publish is a no-op
    t.create_branch("noop")
    assert t.publish_branch("noop") == t.latest_version()


def test_branch_rebase_refusals_and_rewrite_case(spark, root):
    """Round-12 WAP rebase boundaries: a concurrent append CARRYING a
    to-be-deleted key refuses (serializability for keyed deletes); a
    non-append MAIN movement refuses; a branch REWRITE (update_where)
    rebases over appends with its removed files dropped and rewritten
    files landed."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    # (a) overlap: branch deletes k=2 while main appends another k=2
    t.create_branch("ov")
    t.branch("ov").commit_delete_where(
        spark.createDataFrame([(2,)], "k INT"), "k"
    )
    t.commit_append(_df(spark, [(2, "dup")]).coalesce(1))
    with pytest.raises(ConcurrentWriteError, match="appended concurrently"):
        t.publish_branch("ov")
    t.drop_branch("ov")
    # (b) non-append main movement refuses
    t.create_branch("nb")
    t.branch("nb").commit_delete_where(
        spark.createDataFrame([(1,)], "k INT"), "k"
    )
    t.delete_rows_where("v = 'dup'", mode="rewrite")
    with pytest.raises(ConcurrentWriteError, match="not a pure append"):
        t.publish_branch("nb")
    t.drop_branch("nb")
    # (c) branch REWRITE over pure appends rebases
    t.create_branch("up")
    t.branch("up").update_where({"v": "upper(v)"}, "k <= 2")
    t.commit_append(_df(spark, [(50, "m")]).coalesce(1))
    t.publish_branch("up")
    assert _rows(t.read().select("k", "v")) == [
        (1, "A"), (2, "B"), (50, "m")
    ]
    # (d) row lineage REBASES via re-minting (round 13, VERDICT r12
    # #7 — pre-r13 this refused wholesale): carried rewrite ids stay
    # (materialized pre-fork), branch-NEW rows re-mint past main's
    # interleaved allocation, no collision
    r2 = root + "_lin"
    t2 = VersionedTable(spark, r2, row_lineage=True)
    t2.commit_append(_df(spark, [(1, "a")]).coalesce(1))
    t2.create_branch("lb")
    b = t2.branch("lb")
    b.update_where({"v": "'X'"}, "k = 1")
    b.commit_append(_df(spark, [(7, "n")]).coalesce(1))
    t2.commit_append(_df(spark, [(9, "z")]).coalesce(1))  # same id range!
    t2.publish_branch("lb")
    got = {
        (r.k, r.v, r["__row_id"])
        for r in t2.read_with_lineage().collect()
    }
    assert got == {(1, "X", 0), (9, "z", 1), (7, "n", 2)}
    # keyless CDC across the publish commit: the k=1 update keeps its
    # pre-fork id 0 (delete+insert pair), the branch-new row carries
    # its RE-MINTED id — lineage is CDC-exact through the publish
    feed = {
        (r.k, r["__row_id"], r._change_type)
        for r in t2.changes_with_type(t2.latest_version() - 1).collect()
    }
    assert feed == {(1, 0, "delete"), (1, 0, "insert"), (7, 2, "insert")}
    # (e) the one unsound lineage shape still refuses: a branch rewrite
    # of a BRANCH-ADDED file froze on-branch-minted ids into data bytes
    t2.create_branch("lb2")
    b2 = t2.branch("lb2")
    b2.commit_append(_df(spark, [(20, "q")]).coalesce(1))
    b2.update_where({"v": "'Q'"}, "k = 20")  # materializes branch ids
    t2.commit_append(_df(spark, [(30, "w")]).coalesce(1))
    with pytest.raises(ConcurrentWriteError, match="on-branch-minted"):
        t2.publish_branch("lb2")


def test_branch_vacuum_protection_and_drop_gc(spark, root):
    """vacuum retains (a) the branch BASE manifest+files past any
    horizon and (b) the branch HEAD's unpublished files; dropping the
    branch releases both to GC."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a")]))
    t.create_branch("wip")
    b = t.branch("wip")
    b.commit_append(_df(spark, [(2, "b")]))
    # churn main far past the branch point
    for i in range(3):
        t.commit_overwrite(_df(spark, [(100 + i, "m")]))
    t.vacuum(keep_last=1)
    # branch still fully readable: base manifest + head files survived
    b = t.branch("wip")
    assert _rows(b.read().select("k", "v")) == [(1, "a"), (2, "b")]
    # branch handles refuse table-level maintenance
    with pytest.raises(ValueError, match="not available on a branch"):
        b.vacuum()
    with pytest.raises(ValueError, match="not available on a branch"):
        b.create_tag("t")
    t.drop_branch("wip")
    # the branch's own files are never-referenced orphans now: a
    # graced vacuum GCs the unretained fork-point manifest's files but
    # leaves the orphans (indistinguishable from a racing writer's
    # staged output); grace=0 reclaims them
    t.vacuum(keep_last=1)
    second = t.vacuum(keep_last=1, orphan_grace_sec=0.0)
    assert second  # the branch's staged file needed grace=0
    with pytest.raises(NoSuchVersionError):
        t.branch("wip")


def test_vacuum_orphan_grace_protects_staged_files(spark, root):
    """Round 9: vacuum must not delete a concurrent writer's
    staged-but-unpublished files — young never-referenced parquet
    survives the grace period; ordinary GC (files dropped from
    retained manifests) is ungraced; grace=0 reclaims orphans."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a")]))
    t.commit_overwrite(_df(spark, [(2, "b")]))
    # simulate a racing writer mid-commit: staged files, no manifest yet
    staged = t._write_files(_df(spark, [(3, "c")]))
    assert staged
    deleted = t.vacuum(keep_last=1)
    # v1's file (ever-referenced, now unretained) is GC'd immediately;
    # the staged orphan survives
    assert deleted and all(s not in deleted for s in staged)
    for s in staged:
        assert os.path.exists(os.path.join(root, "data", s))
    # the racing writer can still publish a manifest over its stage
    base = t.manifest()
    t._staged_stats = {}
    v = t._publish_once(base, base["files"] + staged, "append", base["schema"])
    assert sorted(r.k for r in t.read(v).collect()) == [2, 3]
    # grace=0: a true orphan (staged, never published) is reclaimed
    orphan = t._write_files(_df(spark, [(9, "z")]))
    assert set(t.vacuum(keep_last=1, orphan_grace_sec=0.0)) == set(orphan)


def test_replace_parts_and_date_range_pruning(spark, root):
    """Transform-spec partition-tuple overwrite + day-range pruned
    reads: replace exactly one (day, bucket) tuple, validate staged
    rows stay inside it, prune date ranges numerically."""
    import datetime as dt

    import pyspark.sql.functions as F

    t = VersionedTable(spark, root, partition_spec=["day(ts)", "bucket(4, site)"])
    rows = [
        (i, f"s{i % 4}", dt.datetime(2024, 1, 1 + (i % 12), 6, 0, 0))
        for i in range(48)
    ]
    ddl = "k INT, site STRING, ts TIMESTAMP"
    t.commit_append(spark.createDataFrame(rows, ddl))
    # overwrite the (2024-01-03, s2) tuple with corrected rows
    target = [
        (1000 + k, "s2", ts) for (k, s, ts) in rows
        if s == "s2" and ts.date() == dt.date(2024, 1, 3)
    ]
    assert target
    t.commit_replace_parts(
        spark.createDataFrame(target, ddl),
        {"ts": dt.date(2024, 1, 3), "site": "s2"},
    )
    got = sorted(r.k for r in t.read().collect())
    want = sorted(
        [k for (k, s, ts) in rows
         if not (s == "s2" and ts.date() == dt.date(2024, 1, 3))]
        + [k for (k, _s, _ts) in target]
    )
    assert got == want
    # staged rows outside the tuple are rejected loudly
    with pytest.raises(ValueError, match="outside the replaced"):
        t.commit_replace_parts(
            spark.createDataFrame(
                [(1, "s3", dt.datetime(2024, 1, 3, 6))], ddl
            ),
            {"ts": dt.date(2024, 1, 3), "site": "s2"},
        )
    # every spec column must be filtered
    with pytest.raises(ValueError, match="missing"):
        t.commit_replace_parts(
            spark.createDataFrame(target, ddl), {"site": "s2"}
        )
    # day-range pruned read: numeric epoch-day compare, exact rows
    lo, hi = dt.date(2024, 1, 2), dt.date(2024, 1, 4)
    pr = t.read_pruned_date_range("ts", lo, hi)
    expect = sorted(
        r for r in got
        if (
            dt.date(2024, 1, 2)
            <= (dt.datetime(2024, 1, 1) + dt.timedelta(days=(r % 1000) % 12)).date()
            <= dt.date(2024, 1, 4)
        )
    )
    got_pr = sorted(r.k for r in pr.collect())
    direct = sorted(
        r.k for r in t.read().filter(
            (F.col("ts") >= F.lit(dt.datetime(2024, 1, 2)))
            & (F.col("ts") < F.lit(dt.datetime(2024, 1, 5)))
        ).collect()
    )
    assert got_pr == direct and got_pr
    # pruning actually skipped files (12 days, range covers 3)
    m = t.manifest()
    kept = 0
    for f in m["files"]:
        d = m["stats"][f].get("part:ts_day")
        if d is not None and 19724 <= int(d) <= 19726:
            kept += 1
    assert kept < len(m["files"])
    with pytest.raises(TypeError, match="must be datetime.date"):
        t.read_pruned_date_range("ts", dt.datetime(2024, 1, 2), hi)


def test_month_year_transforms(spark, root):
    """month()/year() transforms: TZ-free calendar fields derived from
    the epoch day; pruning by a date lookup matches the layout."""
    import datetime as dt

    import pyspark.sql.functions as F

    t = VersionedTable(spark, root, partition_spec=["month(ts)", "year(ts)"])
    rows = [
        (1, dt.datetime(2023, 12, 31, 23, 0)),
        (2, dt.datetime(2024, 1, 1, 1, 0)),
        (3, dt.datetime(2024, 2, 15, 12, 0)),
        (4, dt.datetime(2024, 2, 29, 23, 59)),
    ]
    t.commit_append(spark.createDataFrame(rows, "k INT, ts TIMESTAMP"))
    m = t.manifest()
    stats = [m["stats"][f] for f in m["files"]]
    months = sorted(s["part:ts_month"] for s in stats)
    years = sorted({s["part:ts_year"] for s in stats})
    # 2023-12 = (2023-1970)*12+11 = 647; 2024-01 = 648; 2024-02 = 649.
    # Partitioned commits hash-distribute by the partition dirs (r13
    # opt): ONE file per live partition tuple — both Feb rows share 649
    assert months == ["647", "648", "649"]
    assert years == ["2023", "2024"]
    # pruning: a Feb-2024 date keeps only month-649 files, result exact
    kept, skipped = t.prune_files_parts({"ts": dt.date(2024, 2, 15)})
    assert skipped == 2 and len(kept) == 1
    got = sorted(
        r.k for r in t.read_pruned_parts({"ts": dt.date(2024, 2, 29)}).collect()
    )
    assert got == [4]


def test_branch_handle_full_surface_cdc_and_merge(spark, root):
    """The branch handle supports the whole write/CDC surface because
    branch versions continue main's numbering: merge_upsert, typed CDC,
    changes_final_state, and time travel all work on the branch line."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b")]))
    t.create_branch("x")
    b = t.branch("x")
    b.merge_upsert(_df(spark, [(2, "B2"), (3, "c")]), "k")
    b.commit_delete_where(spark.createDataFrame([(1,)], "k INT"), "k")
    # typed CDC across the branch's own commits
    eff = {}
    for r in b.changes_with_type(1).collect():
        if r._change_type == "insert":
            eff[r.k] = r.v
        else:
            eff.pop(r.k, None)
    base = {r.k: r.v for r in b.read(1).collect()}
    base.update(eff)
    for k in list(base):
        if k not in {r.k for r in b.read().collect()}:
            del base[k]
    assert {r.k: r.v for r in b.read().collect()} == {2: "B2", 3: "c"}
    # net per-key effect on the branch line
    fs = sorted((r.k, r._change_type) for r in b.changes_final_state("k", 1).collect())
    assert fs == [(1, "delete"), (2, "upsert"), (3, "upsert")]
    # time travel across the fork boundary
    assert sorted(r.k for r in b.read(1).collect()) == [1, 2]
    assert t.latest_version() == 1  # main untouched


def test_snapshot_rows_metadata_only_count(spark, root):
    """Metadata-only COUNT(*): exact across appends/overwrites/
    compaction/time travel; refuses (None) under merge-on-read deletes
    and after a restore re-applying them."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(i, "x") for i in range(7)]))
    t.commit_append(_df(spark, [(100 + i, "y") for i in range(5)]))
    assert t.snapshot_rows() == 12
    assert t.snapshot_rows(version=1) == 7  # time travel
    t.commit_delete_where(spark.createDataFrame([(3,)], "k INT"), "k")
    # r11 (VERDICT r10 #6): the delete captured its exact retraction
    # count, so COUNT(*) stays metadata-answerable
    assert t.snapshot_rows() == 11 == t.read().count()
    t.compact()
    assert t.snapshot_rows() == 11  # materialized: countable again
    t.merge_upsert(_df(spark, [(3, "back"), (200, "new")]), "k")
    assert t.snapshot_rows() == t.read().count() == 13
    # metadata MIN/MAX on a clean snapshot (round 10)
    assert t.snapshot_minmax("k") == (0, 200)
    # positional deletes: COUNT stays metadata-answerable (pair count
    # is exactly known), MIN/MAX refuses (round 10, VERDICT r9 #3)
    t.compact()
    f0 = t.manifest()["files"][0]
    import pyspark.sql.functions as F

    pairs = spark.range(0, 13).filter(F.col("id") % 3 == 0).select(
        F.lit(f0).alias("file"), F.col("id").alias("pos")
    )
    t.commit_delete_positions(pairs)
    assert t.snapshot_rows() == 13 - 5 == t.read().count()
    assert t.snapshot_minmax("k") is None
    # overlapping second pos-delete commit: pairs dedup, count stays exact
    pairs2 = spark.range(0, 13).filter(F.col("id") % 6 == 0).select(
        F.lit(f0).alias("file"), F.col("id").alias("pos")
    )
    t.commit_delete_positions(pairs2)
    assert t.snapshot_rows() == t.read().count() == 13 - 5
    # equality + positional deletes BOTH live: refuse (a pos pair on an
    # eq-dead ordinal would double-subtract)
    t.commit_delete_where(spark.createDataFrame([(200,)], "k INT"), "k")
    assert t.snapshot_rows() is None


def test_partition_in_list_pruning_and_legacy_tags(spark, root):
    """IN-list hidden-partition pruning + pre-round-9 refs.json tags
    still read and drop correctly."""
    import datetime as dt
    import json as _json

    t = VersionedTable(spark, root, partition_spec=["day(ts)", "bucket(4, site)"])
    rows = [
        (i, f"s{i % 4}", dt.datetime(2024, 3, 1 + i % 4, 8))
        for i in range(32)
    ]
    t.commit_append(spark.createDataFrame(rows, "k INT, site STRING, ts TIMESTAMP"))
    filt = {"site": ["s1", "s3"], "ts": dt.date(2024, 3, 2)}
    kept, skipped = t.prune_files_parts(filt)
    assert skipped > 0
    got = sorted(r.k for r in t.read_pruned_parts(filt).collect())
    want = sorted(
        k for (k, s, ts) in rows
        if s in ("s1", "s3") and ts.date() == dt.date(2024, 3, 2)
    )
    assert got == want and got
    with pytest.raises(TypeError, match="IN-list partition filters"):
        t.prune_files_parts({"ts": [dt.date(2024, 3, 1)]})
    # legacy single-file refs.json (pre-round-9 layout): read + drop
    with open(os.path.join(root, "refs.json"), "w") as fh:
        _json.dump({"old-pin": 1}, fh)
    assert t.tags() == {"old-pin": 1}
    t.create_tag("new-pin", 1)
    assert t.tags() == {"old-pin": 1, "new-pin": 1}
    t.drop_tag("old-pin")
    assert t.tags() == {"new-pin": 1}


# ---- round-10 ADVICE-r9 regressions ---------------------------------


from contextlib import contextmanager


@contextmanager
def _session_tz(spark, tz):
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_date_column_day_transform_tz_free(spark, root):
    """ADVICE r9 (medium): day()/month()/year() over a DATE column must
    be calendar-safe — casting through TIMESTAMP evaluates at session-
    LOCAL midnight, shifting the stored part stat (and the row filter)
    a day under a UTC+9 session."""
    import datetime as dt

    with _session_tz(spark, "Asia/Tokyo"):
        t = VersionedTable(spark, root, partition_spec=["day(d)"])
        rows = [(i, dt.date(2024, 3, 1 + i % 3)) for i in range(9)]
        t.commit_append(spark.createDataFrame(rows, "k INT, d DATE"))
        m = t.manifest()
        # every stored epoch-day stat matches the CALENDAR computation
        want_days = {
            str((dt.date(2024, 3, 1 + j) - dt.date(1970, 1, 1)).days)
            for j in range(3)
        }
        got_days = {s["part:d_day"] for s in m["stats"].values()}
        assert got_days == want_days
        # pruned read agrees with the calendar under the hostile TZ
        got = sorted(
            r.k for r in t.read_pruned_parts({"d": dt.date(2024, 3, 2)}).collect()
        )
        assert got == [k for (k, d) in rows if d == dt.date(2024, 3, 2)]
        # date-range read over the DATE column, same discipline
        got2 = sorted(
            r.k
            for r in t.read_pruned_date_range(
                "d", dt.date(2024, 3, 1), dt.date(2024, 3, 2)
            ).collect()
        )
        assert got2 == [k for (k, d) in rows if d <= dt.date(2024, 3, 2)]


def test_read_pruned_parts_naive_datetime_tz_free(spark, root):
    """ADVICE r9 (low): a tz-naive datetime filter value must row-filter
    via TZ-free unix micros (pinned UTC, like driver-side pruning) —
    F.lit() would interpret it in the session timezone and the file
    holding the matching row could prune away while the row filter
    misses it."""
    import datetime as dt

    t = VersionedTable(spark, root, partition_spec=["day(ts)"])
    rows = [(i, dt.datetime(2024, 3, 1 + i % 3, 7, 30)) for i in range(9)]
    t.commit_append(spark.createDataFrame(rows, "k INT, ts TIMESTAMP"))
    with _session_tz(spark, "Asia/Tokyo"):
        got = sorted(
            r.k
            for r in t.read_pruned_parts(
                {"ts": dt.datetime(2024, 3, 2, 7, 30)}
            ).collect()
        )
    assert got == [k for (k, ts) in rows if ts == dt.datetime(2024, 3, 2, 7, 30)]
    assert got  # non-empty: the fix is about silent empties
    # datetime filter against a DATE column fails loud
    t2 = VersionedTable(spark, str(root) + "_d")
    t2.commit_append(
        spark.createDataFrame([(1, dt.date(2024, 3, 1))], "k INT, d DATE")
    )
    with pytest.raises(TypeError, match="DATE column"):
        t2.read_pruned_parts({"d": dt.datetime(2024, 3, 1)}).collect()


def test_cherry_pick_publish_carries_branch_txns(spark, root):
    """ADVICE r9 (low): a cherry-pick publish must merge the branch
    head's txns map onto main so a streaming writer's exactly-once
    bookmark survives the publish — a replayed batch against main must
    no-op, not double-apply."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a")]))
    t.create_branch("ing")
    b = t.branch("ing")
    b.commit_append(_df(spark, [(2, "b")]), txn=("app-x", 7))
    t.commit_append(_df(spark, [(9, "z")]))  # main moves -> cherry-pick path
    t.publish_branch("ing")
    assert t.manifest().get("txns", {}).get("app-x") == 7
    # replayed batch 7 is a no-op on main
    v = t.latest_version()
    assert t.commit_append(_df(spark, [(2, "b")]), txn=("app-x", 7)) == v
    assert _rows(t.read().select("k", "v")) == [(1, "a"), (2, "b"), (9, "z")]


def test_vacuum_retains_intermediate_branch_versions(spark, root):
    """ADVICE r9 (low): files referenced only by INTERMEDIATE branch
    versions survive vacuum while the branch exists — branch time
    travel must not FileNotFound mid-scan."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a")]))
    t.create_branch("audit")
    b = t.branch("audit")
    b.commit_overwrite(_df(spark, [(2, "mid")]))   # intermediate: v2
    b.commit_overwrite(_df(spark, [(3, "head")]))  # head: v3
    t.commit_append(_df(spark, [(9, "z")]))
    t.vacuum(keep_last=1, orphan_grace_sec=0)
    # intermediate branch version still fully readable
    assert _rows(b.read(2)) == [(2, "mid")]
    assert _rows(b.read(3)) == [(3, "head")]
    # dropping the branch releases the window to GC
    t.drop_branch("audit")
    deleted = t.vacuum(keep_last=1, orphan_grace_sec=0)
    assert deleted  # the branch-only files are gone now


def test_merge_upsert_schema_evolution(spark, root):
    """VERDICT r9 #7: MERGE over a source carrying new columns widens
    additively in the same commit — old files read NULL for the new
    columns, rewritten survivors carry NULL, CDC emits the widened
    shape; drops/type changes still reject."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    src = spark.createDataFrame(
        [(2, "B", 20), (4, "d", 40)], "k INT, v STRING, w INT"
    )
    # without the flag: loud mismatch
    with pytest.raises(ValueError, match="merge_schema=True"):
        t.merge_upsert(src, "k")
    v = t.merge_upsert(src, "k", merge_schema=True)
    got = {r.k: (r.v, r.w) for r in t.read().collect()}
    assert got == {1: ("a", None), 2: ("B", 20), 3: ("c", None), 4: ("d", 40)}
    assert "w" in (t.manifest().get("schema") or "")
    # CDC from the merge version carries the widened schema
    ch = t.changes(v - 1, v)
    assert "w" in ch.columns
    # time travel to pre-merge still reads the narrow schema
    assert "w" not in t.read(v - 1).columns
    # a second merge in the narrow shape now DROPS w -> rejected
    with pytest.raises(ValueError, match="drops column"):
        t.merge_upsert(_df(spark, [(5, "e")]), "k", merge_schema=True)
    # type change rejected
    bad = spark.createDataFrame([(5, "e", "oops")], "k INT, v STRING, w STRING")
    with pytest.raises(ValueError, match="changes w"):
        t.merge_upsert(bad, "k", merge_schema=True)


def test_compact_preserves_persisted_sort_order(spark, root):
    """VERDICT r9 #4: cluster_by records a sort_order spec in the
    manifest; compact() re-applies it, so clustering locality survives
    the write path instead of decaying after appends."""
    t = VersionedTable(spark, root)
    rows = [(k, (k * 37) % 64) for k in range(64)]
    t.commit_append(spark.createDataFrame(rows, "k INT, v INT").coalesce(1))
    t.cluster_by(["k", "v"], target_files=8)
    assert t.sort_order() == {"type": "zorder", "cols": ["k", "v"], "bits": 4}
    # unclustered append: spec persists through an ordinary commit
    rows2 = [(k + 64, ((k + 64) * 37) % 64) for k in range(64)]
    t.commit_append(spark.createDataFrame(rows2, "k INT, v INT").coalesce(1))
    assert t.sort_order() == {"type": "zorder", "cols": ["k", "v"], "bits": 4}
    before = _rows(t.read())
    t.compact(target_files=8)
    m = t.manifest()
    assert m["op"] == "compact" and m.get("sort_order") is not None
    assert _rows(t.read()) == before  # row-identical
    # compaction re-interleaved: BOTH dimensions prune again
    _, skipped_k = t.prune_files("k", 0, 7)
    _, skipped_v = t.prune_files("v", 0, 7)
    assert skipped_k > 0 and skipped_v > 0
    assert _rows(t.read_pruned("v", 0, 7)) == _rows(
        t.read().filter("v BETWEEN 0 AND 7")
    )
    # a plain table without a sort order still coalesces
    t2 = VersionedTable(spark, root + "_plain")
    t2.commit_append(_df(spark, [(1, "a"), (2, "b")]))
    t2.compact()
    assert t2.sort_order() is None


# ---- round 10: timestamp time travel + age-based retention ----------------


def test_version_at_and_read_as_of(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a")]))
    ts1 = t._read_json(1)["ts"]
    t.commit_append(_df(spark, [(2, "b")]))
    ts2 = t._read_json(2)["ts"]
    assert t.version_at(ts1) == 1
    assert t.version_at((ts1 + ts2) / 2) in (1, 2)  # between commits
    assert t.version_at(ts2 + 1) == 2
    assert t.read_as_of(ts1).count() == 1
    assert t.read_as_of(ts2 + 1).count() == 2
    with pytest.raises(NoSuchVersionError):
        t.version_at(ts1 - 10)


def test_changes_between_timestamps(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a")]))
    ts1 = t._read_json(1)["ts"]
    t.commit_append(_df(spark, [(2, "b")]))
    t.commit_delete_where(_df(spark, [(1, "")]).select("k"), "k")
    ts3 = t._read_json(3)["ts"]
    feed = t.changes_between(ts1, ts3, with_type=True).collect()
    assert sorted((r.k, r._change_type) for r in feed) == [
        (1, "delete"),
        (2, "insert"),
    ]


def test_expire_snapshots_by_age(spark, root):
    t = VersionedTable(spark, root)
    for i in range(4):
        t.commit_overwrite(_df(spark, [(i, "x")]))
    # age out everything committed before v3's instant: v3, v4 survive
    cutoff = t._read_json(3)["ts"] - 1e-4
    deleted = t.expire_snapshots(cutoff, keep_last=1)
    assert deleted  # v1/v2's overwritten files actually went away
    assert t.read(3).count() == 1 and t.read(4).count() == 1
    with pytest.raises(NoSuchVersionError):
        t.read(1).count()
    # a future cutoff keeps keep_last
    t.expire_snapshots(t._read_json(4)["ts"] + 10, keep_last=1)
    assert t.read(4).count() == 1


# ---- round 10: KMV NDV sketches + metadata join advisor --------------------


def test_estimate_ndv_accuracy_and_merge(spark, root):
    """Table-level NDV from per-file KMV sketches: duplicate values
    across FILES must not inflate the estimate (union-of-mins, not
    sum), and accuracy stays within the KMV error envelope (~1/sqrt(K)
    ≈ 12.5% at K=64; assert 25% for slack)."""
    t = VersionedTable(spark, root, ndv_index_cols=("v",))
    n = 3000
    df = spark.range(n).selectExpr("id AS k", "CAST(id % 1000 AS STRING) AS v")
    # two commits with OVERLAPPING value sets: true table NDV is 1000
    t.commit_append(df.filter("k < 2000").repartition(3))
    t.commit_append(df.filter("k >= 1000").repartition(2))
    est = t.estimate_ndv("v")
    assert abs(est - 1000) / 1000 < 0.25, est
    # small exact regime: fewer than K distinct hashes -> exact count
    t2 = VersionedTable(spark, root + "_small", ndv_index_cols=("v",))
    t2.commit_append(spark.range(10).selectExpr("id AS k", "CAST(id % 7 AS STRING) AS v"))
    assert t2.estimate_ndv("v") == 7
    # unindexed column raises rather than under-counting
    with pytest.raises(ValueError, match="ndv:k"):
        t2.estimate_ndv("k")


def test_suggest_join_strategy_metadata_only(spark, root):
    fact = VersionedTable(spark, root + "_fact", ndv_index_cols=("fk",))
    dim = VersionedTable(spark, root + "_dim", ndv_index_cols=("pk",))
    fact.commit_append(
        spark.range(5000).selectExpr("id AS rid", "CAST(id % 50 AS LONG) AS fk")
    )
    dim.commit_append(
        spark.range(50).selectExpr("id AS pk", "CAST(id AS STRING) AS name")
    )
    plan = fact.suggest_join_strategy(dim, on=("fk", "pk"), broadcast_max_rows=100)
    assert plan["strategy"] == "broadcast" and plan["build_side"] == "b"
    assert plan["est_rows_a"] == 5000 and plan["est_rows_b"] == 50
    # containment estimate: 5000*50/max(~50,~50) ~= 5000 (within KMV error)
    assert abs(plan["est_join_rows"] - 5000) / 5000 < 0.3
    # big dim flips to shuffle
    assert fact.suggest_join_strategy(dim, on=("fk", "pk"), broadcast_max_rows=10)["strategy"] == "shuffle"


# ---- round 10: metadata tables ----------------------------------------------


def test_metadata_tables_and_refusals(spark, root):
    t = VersionedTable(spark, root, partition_spec=["bucket(2, k)"])
    t.commit_append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    t.commit_append(_df(spark, [(4, "d")]))
    snaps = t.meta_snapshots().collect()
    assert [r.version for r in snaps] == [1, 2]
    files = t.meta_files().collect()
    assert sum(r.n_rows for r in files) == 4
    assert all(r.partition and "k_bucket2" in r.partition for r in files)
    mp = {r.k_bucket2: (r.n_files, r.n_rows) for r in t.meta_partitions().collect()}
    assert sum(nr for _nf, nr in mp.values()) == 4
    # r11: a live equality delete subtracts its captured per-file
    # row_counts — partition counts stay exact, scan-free
    t.commit_delete_where(_df(spark, [(1, "")]).select("k"), "k")
    assert sum(r.n_rows for r in t.meta_partitions().collect()) == 3
    t.compact()
    assert sum(r.n_rows for r in t.meta_partitions().collect()) == 3
    # refusal: no partition spec
    t2 = VersionedTable(spark, root + "_nospec")
    t2.commit_append(_df(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="no partition spec"):
        t2.meta_partitions()
    # meta_files on a time-travel snapshot
    assert t.meta_files(version=1).count() <= len(t.manifest(1)["files"])


# ---- round 11: ADVICE fixes -------------------------------------------------


def test_meta_partitions_pre_spec_file_refuses_clearly(spark, root):
    """A file committed BEFORE a metadata-only spec evolution carries
    no part: stats — meta_partitions must refuse with a clear error,
    not crash sorting None vs str (ADVICE r10)."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b")]))
    t.set_partition_spec(["bucket(2, k)"])
    with pytest.raises(ValueError, match="predates the current partition spec"):
        t.meta_partitions()
    # a post-spec commit alone doesn't help while the pre-spec file lives
    t.commit_append(_df(spark, [(3, "c")]))
    with pytest.raises(ValueError, match="predates"):
        t.meta_partitions()
    # compaction rewrites everything under the spec -> answerable
    t.compact()
    assert sum(r.n_rows for r in t.meta_partitions().collect()) == 3


def test_kmv_bounded_heap_matches_unbounded_reference(spark, root):
    """The O(K)-memory KMV write path (bounded max-heap, ADVICE r10)
    must produce exactly the K smallest distinct hashes the old
    O(distinct) set produced."""
    t = VersionedTable(spark, root, ndv_index_cols=("v",))
    t.commit_append(
        spark.range(500).selectExpr("id AS k", "CAST(id AS STRING) AS v").coalesce(1)
    )
    m = t.manifest()
    (f,) = m["files"]
    sketch = m["stats"][f]["ndv:v"]
    want = sorted(
        {VersionedTable._kmv_hash(str(i)) for i in range(500)}
    )[: VersionedTable._KMV_K]
    assert sketch == want
    # estimate still lands in the KMV error envelope
    est = t.estimate_ndv("v")
    assert abs(est - 500) / 500 < 0.3, est


# ---- round 11: full MERGE clause surface ------------------------------------

from unity_to_bigquery_spark.plans.versioned import (  # noqa: E402
    MergeCardinalityError,
    when_matched_delete,
    when_matched_update,
    when_not_matched_by_source_delete,
    when_not_matched_by_source_update,
    when_not_matched_insert,
)


def _mrows(t, ver=None):
    return {
        (r.k, r.v) for r in t.read(ver).select("k", "v").collect()
    }


def test_merge_clause_gauntlet(spark, root):
    """matched-AND-delete + conditional update + not-matched-by-source,
    multiple ordered clauses, first-true wins."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b"), (3, "c"), (4, "d")]))
    src = spark.createDataFrame(
        [(1, "A", "up"), (2, "x", "drop"), (5, "E", "up"), (6, "x", "drop")],
        "k INT, v STRING, op STRING",
    )
    t.merge(src, "k", [
        when_matched_delete(condition="s.op = 'drop'"),
        when_matched_update({"v": "upper(s.v)"}),
        when_not_matched_insert({"k": "s.k", "v": "s.v"}, condition="s.op <> 'drop'"),
        when_not_matched_by_source_update({"v": "concat(t.v, '!')"}, condition="t.k = 3"),
        when_not_matched_by_source_delete(condition="t.k = 4"),
    ])
    assert _mrows(t) == {(1, "A"), (3, "c!"), (5, "E")}
    assert t.manifest()["op"] == "merge"


def test_merge_update_star_and_insert_star(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b")]))
    src = _df(spark, [(2, "B"), (3, "C")])
    t.merge(src, "k", [when_matched_update(), when_not_matched_insert()])
    assert _mrows(t) == {(1, "a"), (2, "B"), (3, "C")}


def test_merge_insert_only_carries_all_files(spark, root):
    """No matched/BY SOURCE clause: original files must carry forward
    byte-identical (insert-if-absent rewrites nothing)."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b")]))
    before = set(t.manifest()["files"])
    t.merge(_df(spark, [(2, "DUP"), (3, "c")]), "k",
            [when_not_matched_insert()])
    after = set(t.manifest()["files"])
    assert before <= after  # untouched originals still referenced
    assert _mrows(t) == {(1, "a"), (2, "b"), (3, "c")}
    # CDC: exactly one insert, nothing else
    ch = t.changes_with_type(t.latest_version() - 1).collect()
    assert [(r.k, r._change_type) for r in ch] == [(3, "insert")]


def test_merge_cardinality_violation_is_loud(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a")]))
    dup_src = _df(spark, [(1, "x"), (1, "y"), (2, "z")])
    with pytest.raises(MergeCardinalityError, match="multiple rows"):
        t.merge(dup_src, "k", [when_matched_update()])
    # but duplicate UNMATCHED keys insert fine (no matched ambiguity)
    t.merge(_df(spark, [(7, "p"), (7, "q")]), "k", [when_not_matched_insert()])
    assert t.read().filter("k = 7").count() == 2


def test_merge_clause_cdc_types(spark, root):
    """CDC across a clause merge: delete rows retract, updates emit
    classified pre/post pairs, untouched-file rows emit nothing."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b")]))
    t.commit_append(_df(spark, [(50, "zz")]))  # separate file, untouched
    v0 = t.latest_version()
    t.merge(_df(spark, [(1, "A"), (2, "bye"), (9, "i")]), "k", [
        when_matched_delete(condition="s.v = 'bye'"),
        when_matched_update(),
        when_not_matched_insert(),
    ])
    imgs = t.changes_with_updates("k", v0)
    got = {(r.k, r._change_type) for r in imgs.collect()}
    assert got == {
        (1, "update_preimage"), (1, "update_postimage"),
        (2, "delete"), (9, "insert"),
    }


def test_merge_schema_widening_rules(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a")]))
    wide = spark.createDataFrame([(1, "A", 9), (2, "B", 8)], "k INT, v STRING, extra INT")
    # star write + new column without merge_schema: loud
    with pytest.raises(ValueError, match="merge_schema=True"):
        t.merge(wide, "k", [when_matched_update(), when_not_matched_insert()])
    # explicit set dicts ignoring the extra column: no widening needed
    t.merge(wide, "k", [when_matched_update({"v": "s.v"})])
    assert t.read().columns == ["k", "v"]
    # with merge_schema: widened, survivors NULL-fill
    t.merge(wide, "k", [when_matched_update(), when_not_matched_insert()],
            merge_schema=True)
    out = {(r.k, r.v, r.extra) for r in t.read().collect()}
    assert out == {(1, "A", 9), (2, "B", 8)}


def test_merge_validation_errors(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="at least one clause"):
        t.merge(_df(spark, [(1, "x")]), "k", [])
    with pytest.raises(ValueError, match="unconditional"):
        t.merge(_df(spark, [(1, "x")]), "k",
                [when_matched_update(), when_matched_delete(condition="t.k = 1")])
    with pytest.raises(ValueError, match="unknown column"):
        t.merge(_df(spark, [(1, "x")]), "k",
                [when_matched_update({"nope": "s.v"})])
    t2 = VersionedTable(spark, root + "_empty")
    with pytest.raises(ValueError, match="never-committed"):
        t2.merge(_df(spark, [(1, "x")]), "k", [when_not_matched_insert()])


def test_merge_txn_idempotence_and_source_key(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a")]))
    src = spark.createDataFrame([(1, "A")], "sk INT, v STRING")
    v = t.merge(src, "k", [when_matched_update({"v": "s.v"})],
                source_key="sk", txn=("app", 5))
    assert _mrows(t) == {(1, "A")}
    # replay with same txn: no-op, same version
    assert t.merge(src, "k", [when_matched_update({"v": "'CLOBBER'"})],
                   source_key="sk", txn=("app", 5)) == v
    assert _mrows(t) == {(1, "A")}


def test_merge_null_keys_never_match(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(spark.createDataFrame([(None, "tnull"), (1, "a")], "k INT, v STRING"))
    src = spark.createDataFrame([(None, "snull"), (1, "A")], "k INT, v STRING")
    t.merge(src, "k", [
        when_matched_update(),
        when_not_matched_insert(),
        when_not_matched_by_source_update({"v": "concat(t.v, '?')"}),
    ])
    out = {(r.k, r.v) for r in t.read().collect()}
    # NULL target row: not matched by source -> updated; NULL source row: inserted
    assert out == {(None, "tnull?"), (1, "A"), (None, "snull")}


# ---- round 11: safe type promotion (VERDICT r10 #2) -------------------------

from unity_to_bigquery_spark.plans.versioned import _is_safe_widening  # noqa: E402


def test_widening_lattice():
    from pyspark.sql.types import (
        ByteType, DecimalType, DoubleType, FloatType, IntegerType,
        LongType, ShortType, StringType,
    )

    assert _is_safe_widening(IntegerType(), LongType())
    assert _is_safe_widening(ByteType(), ShortType())
    assert _is_safe_widening(ShortType(), LongType())
    assert _is_safe_widening(FloatType(), DoubleType())
    assert _is_safe_widening(DecimalType(10, 2), DecimalType(18, 2))
    assert not _is_safe_widening(LongType(), IntegerType())          # narrow
    assert not _is_safe_widening(DoubleType(), FloatType())          # narrow
    assert not _is_safe_widening(DecimalType(10, 2), DecimalType(18, 4))  # scale
    assert not _is_safe_widening(IntegerType(), DoubleType())        # family
    assert not _is_safe_widening(StringType(), LongType())


def test_promote_column_metadata_only(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b")]))
    files_v1 = list(t.manifest()["files"])
    v = t.promote_column("k", "bigint")
    m = t.manifest()
    assert m["files"] == files_v1  # zero files touched
    assert m["op"].startswith("promote_column")
    assert "k:bigint" in m["op"]
    # old int32 files read through the promoted schema
    assert dict(t.read().dtypes)["k"] == "bigint"
    assert {r.k for r in t.read().collect()} == {1, 2}
    # head-typed appends now just work; reads span both generations
    t.commit_append(
        spark.createDataFrame([(3_000_000_000, "c")], "k BIGINT, v STRING")
    )
    got = {r.k for r in t.read().filter("k >= 2").collect()}
    assert got == {2, 3_000_000_000}
    # time travel BEFORE the promotion reads the narrow type
    assert dict(t.read(v - 1).dtypes)["k"] == "int"
    # idempotent no-op
    assert t.promote_column("k", "bigint") == t.latest_version()
    # unsafe direction / unknown column are loud
    with pytest.raises(ValueError, match="not a safe promotion"):
        t.promote_column("k", "int")
    with pytest.raises(ValueError, match="no column"):
        t.promote_column("zzz", "bigint")


def test_promotion_via_merge_schema_append(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a")]))
    # wider incoming promotes in-commit
    t.commit_append(
        spark.createDataFrame([(5_000_000_000, "w")], "k BIGINT, v STRING"),
        merge_schema=True,
    )
    assert dict(t.read().dtypes)["k"] == "bigint"
    assert {r.k for r in t.read().collect()} == {1, 5_000_000_000}
    # narrower incoming accepted, table keeps the wide type
    t.commit_append(
        spark.createDataFrame([(7, "n")], "k INT, v STRING"), merge_schema=True
    )
    assert dict(t.read().dtypes)["k"] == "bigint"
    assert t.read().count() == 3
    # unsafe change still rejects
    with pytest.raises(ValueError, match="not a safe promotion"):
        t.commit_append(
            spark.createDataFrame([("x", "y")], "k STRING, v STRING"),
            merge_schema=True,
        )


def test_promotion_cdc_typed_at_head_and_mapping(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a")]))
    t.enable_column_mapping()
    t.rename_column("k", "id")
    t.promote_column("id", "bigint")
    t.commit_append(
        spark.createDataFrame([(9_000_000_000, "z")], "id BIGINT, v STRING")
    )
    # CDC spanning pre-mapping + pre-promotion commits: head names, head types
    feed = t.changes_with_type(0)
    assert dict(feed.dtypes)["id"] == "bigint"
    got = {(r.id, r._change_type) for r in feed.collect()}
    assert got == {(1, "insert"), (9_000_000_000, "insert")}
    # mapping survived the promotion commit
    assert {e["name"] for e in t.manifest()["column_mapping"]} == {"id", "v"}
    # deletes against the promoted table still retract pre-promotion rows
    t.commit_delete_where(spark.createDataFrame([(1,)], "id BIGINT"), "id")
    assert {r.id for r in t.read().collect()} == {9_000_000_000}


def test_promotion_float_and_decimal(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(
        spark.createDataFrame([(1, 1.5)], "k INT, x FLOAT")
    )
    t.promote_column("x", "double")
    assert dict(t.read().dtypes)["x"] == "double"
    assert t.read().first().x == 1.5
    t2 = VersionedTable(spark, root + "_dec")
    t2.commit_append(
        spark.createDataFrame([(1,)], "k INT").selectExpr(
            "k", "CAST(1.25 AS DECIMAL(5,2)) AS d"
        )
    )
    t2.promote_column("d", "decimal(20,2)")
    assert dict(t2.read().dtypes)["d"] == "decimal(20,2)"
    assert str(t2.read().first().d) == "1.25"


# ---- round 11: partition-scoped compaction (VERDICT r10 #4) -----------------


def test_compact_where_rewrites_only_selected_partition(spark, root):
    t = VersionedTable(spark, root, partition_spec=["ds"])
    for i in range(3):  # 3 small files per ds value
        t.commit_append(_df(spark, [(10 * i + j, f"v{i}{j}") for j in range(3)], ds="a"))
        t.commit_append(_df(spark, [(100 + 10 * i + j, f"w{i}{j}") for j in range(3)], ds="b"))
    m0 = t.manifest()
    b_files = {
        f for f in m0["files"]
        if m0["stats"][f].get("part:ds") == "b"
    }
    a_files = set(m0["files"]) - b_files
    assert len(a_files) >= 3 and len(b_files) >= 3
    total_before = t.read().count()
    t.compact(where={"ds": "a"})
    m1 = t.manifest()
    assert m1["op"].startswith("compact_parts")
    # b-partition files byte-identical: same paths still referenced
    assert b_files <= set(m1["files"])
    # a-partition files all replaced, and packed into fewer files
    assert not (a_files & set(m1["files"]))
    assert len([f for f in m1["files"] if f not in b_files]) < len(a_files)
    assert t.read().count() == total_before
    assert {r.v for r in t.read().filter("ds = 'a'").collect()} == {
        f"v{i}{j}" for i in range(3) for j in range(3)
    }


def test_compact_where_with_deletes_and_sequencing(spark, root):
    """Equality deletes: the scope rewrite materializes them for its
    files; entries stay live for untouched files and a key re-inserted
    after the delete still survives."""
    t = VersionedTable(spark, root, partition_spec=["ds"])
    t.commit_append(_df(spark, [(1, "a1"), (2, "a2")], ds="a"))
    t.commit_append(_df(spark, [(3, "b1"), (4, "b2")], ds="b"))
    t.commit_delete_where(spark.createDataFrame([(1,), (3,)], "k INT"), "k")
    t.compact(where={"ds": "a"})
    m = t.manifest()
    assert m.get("deletes"), "delete entry must survive for the b file"
    assert {r.k for r in t.read().collect()} == {2, 4}
    # the rewritten a-file is NEWER than the delete: re-inserting k=1
    # into partition a must survive
    t.commit_append(_df(spark, [(1, "again")], ds="a"))
    assert {r.k for r in t.read().collect()} == {1, 2, 4}
    # compacting b sheds the (now fully-materialized) delete entry
    t.compact(where={"ds": "b"})
    assert not t.manifest().get("deletes")
    assert {r.k for r in t.read().collect()} == {1, 2, 4}


def test_compact_where_validation_and_noop(spark, root):
    t = VersionedTable(spark, root, partition_spec=["ds", "bucket(2, k)"])
    t.commit_append(_df(spark, [(1, "x")], ds="a"))
    v = t.latest_version()
    # untouched tuple: version unchanged (no empty rewrite commit)
    assert t.compact(where={"ds": "zzz"}) == v
    with pytest.raises(ValueError, match="not partition source"):
        t.compact(where={"nope": 1})
    t2 = VersionedTable(spark, root + "_nospec")
    t2.commit_append(_df(spark, [(1, "x")]))
    with pytest.raises(ValueError, match="requires a partition spec"):
        t2.compact(where={"ds": "a"})
    # subset filter: only ds named, both buckets of ds=a rewritten
    t.commit_append(_df(spark, [(2, "y"), (3, "z")], ds="a"))
    before = set(t.manifest()["files"])
    t.compact(where={"ds": "a"})
    assert t.read().count() == 3
    assert not (before & set(t.manifest()["files"]))  # all were ds=a


def test_compact_where_self_heals_pre_spec_files(spark, root):
    """A file committed before the spec has no part: stats — a scoped
    compact adopts it into the rewrite (it cannot be proven outside),
    after which meta_partitions answers."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "old-a")], ds="a"))
    t.set_partition_spec(["ds"])
    t.commit_append(_df(spark, [(2, "new-b")], ds="b"))
    t.compact(where={"ds": "a"})
    assert t.read().count() == 2
    mp = {r.ds: r.n_rows for r in t.meta_partitions().collect()}
    assert mp == {"a": 1, "b": 1}


def test_compact_where_preserves_sort_order_and_lineage(spark, root):
    t = VersionedTable(spark, root, row_lineage=True)
    t.commit_append(_df(spark, [(i, f"v{i}") for i in range(8)]))
    ids_before = {r.k: r["__row_id"] for r in t.read_with_lineage().collect()}
    t.set_partition_spec(["bucket(2, k)"])
    t.compact()  # lay everything under the spec
    t.commit_append(_df(spark, [(100, "x"), (101, "y")]))
    t.compact(where={"k": 100})  # scope = bucket(100)
    ids_after = {r.k: r["__row_id"] for r in t.read_with_lineage().collect()}
    for k, rid in ids_before.items():
        assert ids_after[k] == rid, f"lineage id changed for k={k}"


# ---- round 11: equality-delete-aware metadata COUNT (VERDICT r10 #6) --------


def test_eq_delete_row_counts_exact_count(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(i, "a") for i in range(10)]))
    t.commit_append(_df(spark, [(100 + i, "b") for i in range(10)]))
    # delete spanning both files + keys that match nothing
    t.commit_delete_where(
        spark.createDataFrame([(1,), (2,), (105,), (999,)], "k INT"), "k"
    )
    assert t.snapshot_rows() == 17 == t.read().count()
    # sequential overlapping delete: second counts only still-live rows
    t.commit_delete_where(
        spark.createDataFrame([(2,), (3,), (105,)], "k INT"), "k"
    )
    assert t.snapshot_rows() == 16 == t.read().count()
    # key re-insert AFTER the delete (sequencing): new row not retracted
    t.commit_append(_df(spark, [(1, "again")]))
    assert t.snapshot_rows() == 17 == t.read().count()
    # time travel: counts resolve per-version
    assert t.snapshot_rows(version=3) == 17
    assert t.snapshot_rows(version=2) == 20


def test_eq_delete_counts_survive_partial_rewrite(spark, root):
    """A scoped compact materializes the delete for ONE partition; the
    stored per-file counts for the rewritten files stop applying (file
    no longer live) while the untouched file's count still does."""
    t = VersionedTable(spark, root, partition_spec=["ds"])
    t.commit_append(_df(spark, [(1, "a1"), (2, "a2"), (3, "a3")], ds="a"))
    t.commit_append(_df(spark, [(4, "b1"), (5, "b2")], ds="b"))
    t.commit_delete_where(spark.createDataFrame([(1,), (4,)], "k INT"), "k")
    assert t.snapshot_rows() == 3 == t.read().count()
    t.compact(where={"ds": "a"})  # materializes k=1's removal only
    m = t.manifest()
    assert m.get("deletes"), "entry must survive for the b files"
    assert t.snapshot_rows() == 3 == t.read().count()
    t.compact(where={"ds": "b"})
    assert not t.manifest().get("deletes")
    assert t.snapshot_rows() == 3


def test_eq_delete_counts_legacy_and_replace_keys_refuse(spark, root):
    """Entries without row_counts (legacy logs, commit_replace_keys'
    merge-on-read entries) still refuse rather than guess."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b")]))
    t.commit_replace_keys(
        _df(spark, [(1, "A")]), spark.createDataFrame([(1,)], "k INT"), "k"
    )
    if t.manifest().get("deletes"):
        assert t.snapshot_rows() is None
    # legacy entry shape: strip row_counts from a real delete commit
    t2 = VersionedTable(spark, root + "_legacy")
    t2.commit_append(_df(spark, [(1, "a"), (2, "b")]))
    t2.commit_delete_where(spark.createDataFrame([(1,)], "k INT"), "k")
    import json as _json

    mp = t2._mpath(t2.latest_version())
    m = _json.load(open(mp))
    for d in m["deletes"]:
        d.pop("row_counts", None)
    os.chmod(mp, 0o644)
    with open(mp, "w") as fh:
        _json.dump(m, fh)
    t2.__dict__.pop("_mcache", None)  # drop any manifest cache
    t3 = VersionedTable(spark, root + "_legacy")
    assert t3.snapshot_rows() is None
    assert t3.read().count() == 1


# ---- round 11: predicate UPDATE / DELETE (Delta UPDATE/DELETE WHERE) --------


def test_update_where_rewrites_only_touched_files(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "low"), (2, "low")]))
    t.commit_append(_df(spark, [(100, "high"), (101, "high")]))
    m0 = t.manifest()
    low_files = {
        f for f in m0["files"] if m0["stats"][f]["k"][1] < 100
    }
    v = t.update_where({"v": "concat(v, '!')"}, "k < 50")
    m1 = t.manifest()
    assert m1["op"] == "update_where" and v == m1["version"]
    # high files carried byte-identical; low files all rewritten
    assert (set(m1["files"]) & low_files) == set()
    assert {f for f in m1["files"] if f in m0["files"]} == set(m0["files"]) - low_files
    got = {(r.k, r.v) for r in t.read().collect()}
    assert got == {(1, "low!"), (2, "low!"), (100, "high"), (101, "high")}
    # NULL condition updates nothing; no-match is a version no-op
    assert t.update_where({"v": "'X'"}, "k = 99999") == v
    with pytest.raises(ValueError, match="unknown column"):
        t.update_where({"zzz": "1"}, "k = 1")
    # txn idempotence
    v2 = t.update_where({"v": "upper(v)"}, "k = 1", txn=("u", 3))
    assert t.update_where({"v": "'CLOBBER'"}, "k = 1", txn=("u", 3)) == v2
    assert t.read().filter("k = 1").first().v == "LOW!"


def test_update_where_cdc_and_lineage(spark, root):
    t = VersionedTable(spark, root, row_lineage=True)
    t.commit_append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    ids0 = {r.k: r["__row_id"] for r in t.read_with_lineage().collect()}
    v0 = t.latest_version()
    t.update_where({"v": "upper(v)"}, "k <= 2")
    # updated rows KEEP their row ids (row-tracking semantics)
    ids1 = {r.k: r["__row_id"] for r in t.read_with_lineage().collect()}
    assert ids1 == ids0
    imgs = t.changes_with_updates("k", v0)
    got = {(r.k, r._change_type) for r in imgs.collect()}
    assert got == {
        (1, "update_preimage"), (1, "update_postimage"),
        (2, "update_preimage"), (2, "update_postimage"),
    }


def test_delete_rows_where_mor_and_rewrite_routes(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(i, f"v{i}") for i in range(20)]))
    files0 = list(t.manifest()["files"])
    # small match -> MoR positional deletes, zero files rewritten
    t.delete_rows_where("k IN (3, 7)")
    m = t.manifest()
    assert m["files"] == files0 and m.get("pos_deletes")
    assert t.read().count() == 18
    assert t.snapshot_rows() == 18  # pos pairs exactly known
    # forced rewrite route: touched files rewritten without matches
    t.delete_rows_where("k >= 15", mode="rewrite")
    m2 = t.manifest()
    assert m2["op"] == "delete_rows_where"
    assert {r.k for r in t.read().collect()} == set(range(15)) - {3, 7}
    # no-op when nothing matches; NULL condition deletes nothing
    v = t.latest_version()
    assert t.delete_rows_where("k = 42") == v
    t2 = VersionedTable(spark, root + "_null")
    t2.commit_append(
        spark.createDataFrame([(None, "n"), (1, "a")], "k INT, v STRING")
    )
    t2.delete_rows_where("k > 0", mode="rewrite")
    got = {(r.k, r.v) for r in t2.read().collect()}
    assert got == {(None, "n")}  # NULL-cond row survives
    with pytest.raises(ValueError, match="mode must be"):
        t2.delete_rows_where("k = 1", mode="bogus")


def test_delete_rows_where_auto_stays_mor(spark, root):
    """Round 12 (VERDICT r11 #2): deletion vectors removed the 100k
    copy-on-write cliff — auto stays merge-on-read at ANY match count;
    rewrite remains opt-in."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(i, "x") for i in range(30)]))
    files0 = set(t.manifest()["files"])
    t.delete_rows_where("k % 2 = 0")  # 15 matches: still MoR under auto
    m = t.manifest()
    assert set(m["files"]) == files0  # zero data files rewritten
    assert m.get("pos_deletes") and m["pos_deletes"][0].get("dv")
    assert t.read().count() == 15
    assert t.snapshot_rows() == 15  # counts answer from the manifest
    t.delete_rows_where("k = 1", mode="rewrite")  # opt-in copy-on-write
    m2 = t.manifest()
    assert not (set(m2["files"]) >= files0)
    assert t.read().count() == 14


def test_update_delete_where_respect_prior_mor_deletes(spark, root):
    """Rows already dead under equality/pos deletes must neither match
    nor resurrect through a predicate update/delete rewrite."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    t.commit_delete_where(spark.createDataFrame([(2,)], "k INT"), "k")
    t.update_where({"v": "'U'"}, "k >= 1")
    got = {(r.k, r.v) for r in t.read().collect()}
    assert got == {(1, "U"), (3, "U")}  # k=2 stays dead
    t.delete_rows_where("v = 'U'", mode="rewrite")
    assert t.read().count() == 0


# ---- round 11: MERGE INTO SQL front door ------------------------------------

from unity_to_bigquery_spark.plans.versioned import parse_merge_sql  # noqa: E402


def test_parse_merge_sql_grammar():
    (k, sk), cl = parse_merge_sql("""
        MERGE INTO tbl AS tgt USING src AS st
        ON tgt.k = st.sk
        WHEN MATCHED AND st.op = 'del' THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = upper(st.v), amt = tgt.amt + st.amt
        WHEN NOT MATCHED AND st.op <> 'del' THEN
            INSERT (k, v) VALUES (st.sk, concat(st.v, '-new'))
        WHEN NOT MATCHED BY SOURCE AND tgt.stale THEN DELETE
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = concat(tgt.v, '?');
    """)
    assert (k, sk) == ("k", "sk")
    assert [(c["when"], c["action"]) for c in cl] == [
        ("matched", "delete"), ("matched", "update"),
        ("not_matched", "insert"), ("not_matched_by_source", "delete"),
        ("not_matched_by_source", "update"),
    ]
    assert cl[0]["condition"] == "s.op = 'del'"
    assert cl[1]["set"] == {"v": "upper(s.v)", "amt": "t.amt + s.amt"}
    assert cl[2]["set"] == {"k": "s.sk", "v": "concat(s.v, '-new')"}
    assert cl[4]["set"] == {"v": "concat(t.v, '?')"}
    # star forms + default aliases
    (_k, _sk), cl2 = parse_merge_sql(
        "MERGE INTO a t USING b s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    assert cl2[0]["set"] is None and cl2[1]["set"] is None
    # rejections
    for bad, msg in [
        ("MERGE INTO a USING b ON t.k = s.k OR 1=1 WHEN MATCHED THEN DELETE",
         "single-equality"),
        ("MERGE INTO a USING b ON t.k = s.k WHEN NOT MATCHED THEN DELETE",
         "cannot DELETE"),
        ("MERGE INTO a USING b ON t.k = s.k WHEN MATCHED THEN FROBNICATE",
         "unknown action"),
        ("MERGE INTO a USING b ON t.k = s.k "
         "WHEN NOT MATCHED THEN INSERT (a, b) VALUES (1)",
         "count mismatch"),
        ("MERGE INTO a USING b ON t.k = s.k "
         "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *",
         "explicit SET"),
    ]:
        with pytest.raises(ValueError, match=msg):
            parse_merge_sql(bad)


def test_merge_sql_executes_like_clause_api(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b"), (3, "c"), (4, "d")]))
    src = spark.createDataFrame(
        [(1, "A", "up"), (2, "x", "drop"), (5, "E", "up")],
        "sk INT, v STRING, op STRING",
    )
    t.merge_sql(src, """
        MERGE INTO target tgt USING updates u ON tgt.k = u.sk
        WHEN MATCHED AND u.op = 'drop' THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = upper(u.v)
        WHEN NOT MATCHED AND u.op <> 'drop' THEN
            INSERT (k, v) VALUES (u.sk, u.v)
        WHEN NOT MATCHED BY SOURCE AND tgt.k = 3 THEN
            UPDATE SET v = concat(tgt.v, '!')
        WHEN NOT MATCHED BY SOURCE AND tgt.k = 4 THEN DELETE
    """)
    assert _mrows(t) == {(1, "A"), (3, "c!"), (5, "E")}
    assert t.manifest()["op"] == "merge"


# ---- round 11: zero-copy CLONE ----------------------------------------------


def test_clone_zero_copy_and_independence(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b")]))
    t.commit_append(_df(spark, [(3, "c")]))
    c = t.clone_linked(root + "_clone")
    assert sorted(map(tuple, c.read().collect())) == sorted(
        map(tuple, t.read().collect())
    )
    # zero data bytes copied: every clone data file is a hard link
    import os as _os

    from unity_to_bigquery_spark.plans.versioned import DATA_DIR
    for f in c.manifest()["files"]:
        st = _os.stat(_os.path.join(root + "_clone", DATA_DIR, f))
        assert st.st_nlink >= 2, f
    # divergence: mutations on either side never leak to the other
    c.commit_append(_df(spark, [(9, "z")]))
    c.commit_delete_where(spark.createDataFrame([(1,)], "k INT"), "k")
    assert {r.k for r in t.read().collect()} == {1, 2, 3}
    t.commit_delete_where(spark.createDataFrame([(2,)], "k INT"), "k")
    assert {r.k for r in c.read().collect()} == {2, 3, 9}
    # vacuum on the source cannot break the clone (hard links)
    t.commit_overwrite(_df(spark, [(100, "new")]))
    t.vacuum(keep_last=1, orphan_grace_sec=0)
    assert {r.k for r in c.read().collect()} == {2, 3, 9}


def test_clone_rebases_delete_sequencing(spark, root):
    """A key re-inserted AFTER a delete must survive in the clone too
    (the naive fv->1 collapse would kill it), and a NEW delete on the
    clone must hit the carried files."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "old"), (2, "keep")]))
    t.commit_delete_where(spark.createDataFrame([(1,)], "k INT"), "k")
    t.commit_append(_df(spark, [(1, "reborn")]))
    c = t.clone_linked(root + "_clone")
    got = {(r.k, r.v) for r in c.read().collect()}
    assert got == {(1, "reborn"), (2, "keep")}
    # new deletes sequence AFTER every carried file
    c.commit_delete_where(spark.createDataFrame([(1,)], "k INT"), "k")
    assert {(r.k, r.v) for r in c.read().collect()} == {(2, "keep")}
    # CDC from zero folds to the head state
    feed = c.changes_with_type(0, 3)  # the clone's own K levels
    import pyspark.sql.functions as F

    net = (
        feed.groupBy("k", "v")
        .agg(
            F.sum(
                F.when(F.col("_change_type") == "delete", -1).otherwise(1)
            ).alias("n")
        )
        .filter("n != 0")
    )
    assert {(r.k, r.v) for r in net.collect()} == got


def test_clone_time_travel_pos_deletes_and_validation(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(i, f"v{i}") for i in range(6)]))
    v1 = t.latest_version()
    t.commit_append(_df(spark, [(10, "x")]))
    f0 = t.manifest()["files"][0]
    import pyspark.sql.functions as F

    t.commit_delete_positions(
        spark.createDataFrame([(f0, 0)], "file STRING, pos BIGINT")
    )
    # clone at an OLD version: pre-pos-delete, pre-append
    old = t.clone_linked(root + "_old", version=v1)
    assert old.read().count() == 6
    # clone at head carries the pos-delete state verbatim
    head = t.clone_linked(root + "_head")
    assert sorted(map(tuple, head.read().collect())) == sorted(
        map(tuple, t.read().collect())
    )
    assert head.snapshot_rows() == t.snapshot_rows()
    with pytest.raises(ValueError, match="not empty"):
        t.clone_linked(root + "_head")
    t2 = VersionedTable(spark, root + "_never")
    with pytest.raises(ValueError, match="never-committed"):
        t2.clone_linked(root + "_x")


def test_meta_partitions_under_mor_deletes(spark, root):
    """r11: meta_partitions answers exactly under eq-deletes (per-file
    row_counts attributed to partitions) and under pos-deletes (live
    pairs per target file); refuses the eq+pos combination and
    count-less legacy entries."""
    import json as _json

    t = VersionedTable(spark, root, partition_spec=["ds"])
    t.commit_append(_df(spark, [(1, "a1"), (2, "a2"), (3, "a3")], ds="a"))
    t.commit_append(_df(spark, [(4, "b1"), (5, "b2")], ds="b"))
    t.commit_delete_where(spark.createDataFrame([(1,), (4,)], "k INT"), "k")
    mp = {r.ds: r.n_rows for r in t.meta_partitions().collect()}
    assert mp == {"a": 2, "b": 1}
    # direct read agrees partition by partition
    direct = {
        r.ds: r.n for r in t.read().groupBy("ds").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert mp == direct
    # pos-only table
    t2 = VersionedTable(spark, root + "_pos", partition_spec=["ds"])
    t2.commit_append(_df(spark, [(1, "x"), (2, "y")], ds="a"))
    f0 = t2.manifest()["files"][0]
    t2.commit_delete_positions(
        spark.createDataFrame([(f0, 0)], "file STRING, pos BIGINT")
    )
    mp2 = {r.ds: r.n_rows for r in t2.meta_partitions().collect()}
    assert sum(mp2.values()) == t2.read().count() == 1
    # eq + pos both live -> refuse
    t2.commit_delete_where(spark.createDataFrame([(2,)], "k INT"), "k")
    with pytest.raises(ValueError, match="both"):
        t2.meta_partitions()
    # legacy (count-less) eq entry -> refuse
    t3 = VersionedTable(spark, root + "_legacy", partition_spec=["ds"])
    t3.commit_append(_df(spark, [(1, "x")], ds="a"))
    t3.commit_delete_where(spark.createDataFrame([(1,)], "k INT"), "k")
    mpath = t3._mpath(t3.latest_version())
    mj = _json.load(open(mpath))
    for d in mj["deletes"]:
        d.pop("row_counts", None)
    with open(mpath, "w") as fh:
        _json.dump(mj, fh)
    t3b = VersionedTable(spark, root + "_legacy")
    with pytest.raises(ValueError, match="no row_counts"):
        t3b.meta_partitions()


def test_merge_clause_differential_vs_python_reference(spark, root):
    """Seeded differential battery for the clause engine: randomized
    target/source tables driven through randomized clause subsets,
    compared row-for-row against a pure-Python reference implementing
    the MERGE semantics (first-true-wins per group, keep/drop
    fallbacks, NULL conditions never fire)."""
    import random

    # clause templates: (constructor kwargs, python predicate, python effect)
    def m_del_neg(): return (
        when_matched_delete(condition="s.x < 0"),
        lambda t, s: s["x"] is not None and s["x"] < 0, ("delete", None),
    )

    def m_upd_add(): return (
        when_matched_update({"v": "t.v + s.x"}, condition="s.x >= 0"),
        lambda t, s: s["x"] is not None and s["x"] >= 0,
        ("update", lambda t, s: {"v": (None if t["v"] is None or s["x"] is None
                                       else t["v"] + s["x"])}),
    )

    def nm_ins(): return (
        when_not_matched_insert({"k": "s.k", "v": "s.x"}, condition="s.x > 2"),
        lambda s: s["x"] is not None and s["x"] > 2,
        ("insert", lambda s: {"k": s["k"], "v": s["x"], "x": None}),
    )

    def nmbs_del(): return (
        when_not_matched_by_source_delete(condition="t.v > 50"),
        lambda t: t["v"] is not None and t["v"] > 50, ("delete", None),
    )

    def nmbs_upd(): return (
        when_not_matched_by_source_update({"x": "t.v * 2"}, condition="t.v <= 50"),
        lambda t: t["v"] is not None and t["v"] <= 50,
        ("update", lambda t: {"x": None if t["v"] is None else t["v"] * 2}),
    )

    for trial in range(6):
        rng = random.Random(1000 + trial)
        tgt_rows = [
            (k, rng.choice([None, rng.randint(0, 100)]),
             rng.choice([None, rng.randint(-5, 5)]))
            for k in rng.sample(range(20), rng.randint(3, 10))
        ]
        src_keys = rng.sample(range(25), rng.randint(3, 10))
        src_rows = [
            (k, rng.choice([None, rng.randint(0, 100)]),
             rng.choice([None, rng.randint(-5, 5)]))
            for k in src_keys
        ]
        matched_pool = [m_del_neg(), m_upd_add()]
        rng.shuffle(matched_pool)
        groups = (
            matched_pool[: rng.randint(0, 2)]
            + ([nm_ins()] if rng.random() < 0.8 else [])
            + [c for c in (nmbs_del(), nmbs_upd()) if rng.random() < 0.6]
        )
        if not groups:
            groups = [m_upd_add()]
        clauses = [g[0] for g in groups]
        # ---- python reference --------------------------------------
        src_by_k = {r[0]: {"k": r[0], "v": r[1], "x": r[2]} for r in src_rows}
        expected = []
        for k, v, x in tgt_rows:
            trow = {"k": k, "v": v, "x": x}
            srow = src_by_k.get(k)
            fired = False
            for (cl, pred, eff) in groups:
                if srow is not None and cl["when"] == "matched":
                    if pred(trow, srow):
                        if eff[0] == "update":
                            trow = {**trow, **eff[1](trow, srow)}
                            expected.append(trow)
                        fired = True
                        break
                elif srow is None and cl["when"] == "not_matched_by_source":
                    if pred(trow):
                        if eff[0] == "update":
                            trow = {**trow, **eff[1](trow)}
                            expected.append(trow)
                        fired = True
                        break
            if not fired:
                expected.append(trow)
        tgt_keys = {r[0] for r in tgt_rows}
        for srow in src_by_k.values():
            if srow["k"] in tgt_keys:
                continue
            for (cl, pred, eff) in groups:
                if cl["when"] == "not_matched" and pred(srow):
                    expected.append(eff[1](srow))
                    break
        # ---- engine -------------------------------------------------
        r = f"{root}_t{trial}"
        t = VersionedTable(spark, r)
        t.commit_append(
            spark.createDataFrame(tgt_rows, "k INT, v INT, x INT")
        )
        t.merge(
            spark.createDataFrame(src_rows, "k INT, v INT, x INT"),
            "k", clauses,
        )
        got = sorted(
            (row.k, row.v, row.x) for row in t.read().collect()
        )
        want = sorted((e["k"], e.get("v"), e.get("x")) for e in expected)
        assert got == want, (
            f"trial {trial}: clauses="
            f"{[(c['when'], c['action'], c['condition']) for c in clauses]}"
            f"\ngot  {got}\nwant {want}"
        )


# ---- round 12: merge lineage carry + reserved-name guard ---------------------


def test_merge_preserves_row_lineage(spark, root):
    """ADVICE r11: merge on a lineage table must carry __row_id through
    the rewrite — updated rows and carried neighbors keep their ids
    (Delta row tracking through MERGE), inserted rows allocate fresh
    ones. Pre-fix every row in a touched file got a fresh id, so
    keyless-CDC consumers saw spurious delete+insert churn."""
    t = VersionedTable(spark, root, row_lineage=True)
    t.commit_append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    ids0 = {r.k: r["__row_id"] for r in t.read_with_lineage().collect()}
    t.merge(_df(spark, [(2, "B"), (9, "i")]), "k", [
        when_matched_update(),
        when_not_matched_insert(),
    ])
    ids1 = {r.k: r["__row_id"] for r in t.read_with_lineage().collect()}
    # updated row 2 and carried neighbors 1, 3 keep their exact ids
    assert {k: ids1[k] for k in (1, 2, 3)} == ids0
    # inserted row gets a fresh, non-clashing id
    assert ids1[9] is not None and ids1[9] not in set(ids0.values())
    # ids stay collision-free across the rewrite
    rows = t.read_with_lineage().collect()
    assert len({r["__row_id"] for r in rows}) == len(rows)


def test_merge_lineage_delete_and_by_source(spark, root):
    """Lineage through the full clause surface: deletes drop their id,
    BY SOURCE updates keep theirs, everything stays collision-free."""
    t = VersionedTable(spark, root, row_lineage=True)
    t.commit_append(_df(spark, [(1, "a"), (2, "b"), (3, "c"), (4, "d")]))
    ids0 = {r.k: r["__row_id"] for r in t.read_with_lineage().collect()}
    t.merge(_df(spark, [(1, "A"), (2, "x")]), "k", [
        when_matched_delete(condition="s.v = 'x'"),
        when_matched_update({"v": "upper(s.v)"}),
        when_not_matched_by_source_update({"v": "concat(t.v, '!')"}),
    ])
    ids1 = {r.k: r["__row_id"] for r in t.read_with_lineage().collect()}
    assert set(ids1) == {1, 3, 4}
    assert ids1 == {k: ids0[k] for k in (1, 3, 4)}


def test_merge_reserved_column_guard(spark, root):
    """A source column named like an internal marker must be refused
    loudly, not silently corrupt match classification (VERDICT r11)."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a")]))
    bad = spark.createDataFrame(
        [(1, "x", 1)], "k INT, v STRING, __s_present INT"
    )
    with pytest.raises(ValueError, match="reserved column"):
        t.merge(bad, "k", [when_matched_update()])
    bad2 = spark.createDataFrame(
        [(1, "x", 7)], "k INT, v STRING, __row_id LONG"
    )
    with pytest.raises(ValueError, match="reserved column"):
        t.merge(bad2, "k", [when_matched_update()])


# ---- round 12: predicate-driven phase-1 pruning + delete txn -----------------


def test_conjunct_parser():
    c = VersionedTable._conjuncts
    p = VersionedTable._parse_simple_conjunct
    assert c("a = 1 AND b > 2") == ["a = 1", "b > 2"]
    # AND inside parens / strings never splits
    assert c("(a = 1 AND b = 2) OR c = 3") == ["(a = 1 AND b = 2) OR c = 3"]
    assert c("v = 'x AND y' AND k = 1") == ["v = 'x AND y'", "k = 1"]
    assert c("brand = 'it''s' and k<2") == ["brand = 'it''s'", "k<2"]
    assert p("k = 5") == ("k", "=", 5)
    assert p("5 <= k") == ("k", ">=", 5)
    assert p("(price < 10.5)") == ("price", "<", 10.5)
    assert p("v = 'it''s'") == ("v", "=", "it's")
    assert p("k IN (1, 2, 3)") == ("k", "in", [1, 2, 3])
    assert p("name in ('a','b')") == ("name", "in", ["a", "b"])
    # unprunable shapes -> None (conservative)
    for frag in ["upper(v) = 'X'", "k = other_col", "k + 1 = 5",
                 "k BETWEEN 1 AND 5", "k IS NULL", "NOT (k = 1)",
                 "k = DATE '2020-01-01'"]:
        assert p(frag) is None, frag


def test_update_delete_where_phase1_prunes_files(spark, root):
    """VERDICT r11 #5: the find-touched-files phase of a selective
    UPDATE/DELETE must plan against stats-surviving candidates, not
    every live file."""
    t = VersionedTable(spark, root, bloom_index_cols=("k",),
                       distinct_index_cols=("tag",))
    # 4 files with disjoint k ranges and per-file tags
    for lo, tag in [(0, "a"), (100, "b"), (200, "c"), (300, "d")]:
        t.commit_append(spark.createDataFrame(
            [(lo + i, tag, float(i)) for i in range(10)],
            "k INT, tag STRING, x DOUBLE",
        ))
    assert len(t.manifest()["files"]) >= 4
    nfiles = len(t.manifest()["files"])
    # range conjunct prunes to one file's range
    cand, skipped = t.prune_files_condition("k >= 200 AND k <= 205")
    assert skipped >= nfiles - len(cand) and len(cand) < nfiles
    # equality via distinct set
    cand2, _ = t.prune_files_condition("tag = 'b' AND x < 100.0")
    assert len(cand2) < nfiles
    # IN list
    cand3, _ = t.prune_files_condition("k IN (1, 2)")
    assert len(cand3) < nfiles
    # unprunable predicate keeps everything
    cand4, sk4 = t.prune_files_condition("upper(tag) = 'B'")
    assert len(cand4) == nfiles and sk4 == 0
    # and the actual DML is still exact over the pruned plan
    t.update_where({"x": "x + 1000.0"}, "k >= 200 AND k <= 205")
    got = {r.k for r in t.read().filter("x >= 1000.0").collect()}
    assert got == set(range(200, 206))
    v = t.latest_version()
    # predicate that no file can satisfy -> no-op without any scan
    assert t.update_where({"x": "0.0"}, "k = 99999") == v
    assert t.delete_rows_where("k = 99999") == v
    t.delete_rows_where("tag = 'd'", mode="rewrite")
    assert t.read().filter("tag = 'd'").count() == 0
    assert t.read().count() == 30


def test_delete_rows_where_txn_exactly_once(spark, root):
    """VERDICT r11 #6: txn parity on both delete routes."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(i, "x") for i in range(10)]))
    # MoR route
    v1 = t.delete_rows_where("k = 3", txn=("deleter", 1))
    assert t.read().count() == 9
    # replay: rows k<5 WOULD match more rows now, but the txn no-ops
    assert t.delete_rows_where("k < 5", txn=("deleter", 1)) == v1
    assert t.read().count() == 9
    # rewrite route with the next batch id
    v2 = t.delete_rows_where("k >= 8", mode="rewrite", txn=("deleter", 2))
    assert v2 > v1 and t.read().count() == 7
    assert t.delete_rows_where("k >= 0", mode="rewrite", txn=("deleter", 2)) == v2
    assert t.read().count() == 7
    # commit_delete_positions replay no-op too
    pos = spark.createDataFrame([("nope.parquet", 0)], "file STRING, pos LONG")
    assert t.commit_delete_positions(pos, txn=("deleter", 2)) == v2


# ---- round 12: SQL DML front doors + WHEN-split fix --------------------------

from unity_to_bigquery_spark.plans.versioned import (  # noqa: E402
    parse_delete_sql,
    parse_insert_sql,
    parse_update_sql,
)


def test_parse_update_delete_insert_sql_grammar():
    assigns, cond = parse_update_sql(
        "UPDATE t SET v = upper(v), x = x + 1 WHERE k > 3 AND v <> 'WHERE'"
    )
    assert assigns == {"v": "upper(v)", "x": "x + 1"}
    assert cond == "k > 3 AND v <> 'WHERE'"
    # no WHERE -> every row; WHERE inside a string literal never splits
    assert parse_update_sql("UPDATE t SET v = 'a WHERE b'") == (
        {"v": "'a WHERE b'"}, "true",
    )
    assert parse_delete_sql("DELETE FROM t WHERE k IN (1, 2)") == "k IN (1, 2)"
    assert parse_delete_sql("DELETE FROM t;") == "true"
    cols, rows = parse_insert_sql(
        "INSERT INTO t (k, v) VALUES (1, 'a'), (2, upper('b'))"
    )
    assert cols == ["k", "v"]
    assert rows == [["1", "'a'"], ["2", "upper('b')"]]
    cols2, rows2 = parse_insert_sql("INSERT INTO t VALUES (7, 'x, y')")
    assert cols2 is None and rows2 == [["7", "'x, y'"]]
    for bad, msg in [
        ("UPDATE t WHERE k = 1", "expected"),
        ("UPDATE t SET WHERE k = 1", "bad assignment|no SET"),
        ("UPDATE t SET v = 1 WHERE ", "empty WHERE"),
        ("DELETE t WHERE k = 1", "expected"),
        ("DELETE FROM t HAVING k = 1", "trailing"),
        ("INSERT INTO t SELECT * FROM s", "expected"),
        ("INSERT INTO t (a, b) VALUES (1)", "count mismatch"),
        ("INSERT INTO t VALUES (1, 2), (3)", "ragged"),
        ("INSERT INTO t VALUES 1, 2", "parenthesized"),
    ]:
        with pytest.raises(ValueError, match=msg):
            if bad.startswith("UPDATE"):
                parse_update_sql(bad)
            elif bad.startswith("DELETE"):
                parse_delete_sql(bad)
            else:
                parse_insert_sql(bad)


def test_sql_dml_executes_like_programmatic(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    t.insert_sql("INSERT INTO t (k, v) VALUES (4, 'd'), (5, concat('e', 'e'))")
    assert _mrows(t) == {(1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "ee")}
    # omitted column lands NULL
    t.insert_sql("INSERT INTO t (k) VALUES (6)")
    assert (6, None) in _mrows(t)
    t.update_sql("UPDATE t SET v = upper(v) WHERE k <= 2")
    assert {(1, "A"), (2, "B")} <= _mrows(t)
    t.delete_sql("DELETE FROM t WHERE k >= 5")
    assert {r.k for r in t.read().collect()} == {1, 2, 3, 4}
    # txn riding through: replay no-ops
    v = t.update_sql("UPDATE t SET v = 'Z' WHERE k = 1", txn=("app", 9))
    assert t.update_sql("UPDATE t SET v = 'Q' WHERE k = 1", txn=("app", 9)) == v
    assert (1, "Z") in _mrows(t)
    v2 = t.delete_sql("DELETE FROM t WHERE k = 4", txn=("app", 10))
    assert t.delete_sql("DELETE FROM t WHERE k >= 0", txn=("app", 10)) == v2
    assert {r.k for r in t.read().collect()} == {1, 2, 3}
    v3 = t.insert_sql("INSERT INTO t (k, v) VALUES (8, 'h')", txn=("app", 11))
    assert t.insert_sql("INSERT INTO t (k, v) VALUES (8, 'h')", txn=("app", 11)) == v3
    assert t.read().filter("k = 8").count() == 1
    # unknown column / untyped table refusals
    with pytest.raises(ValueError, match="unknown column"):
        t.insert_sql("INSERT INTO t (nope) VALUES (1)")
    t2 = VersionedTable(spark, root + "_fresh")
    with pytest.raises(ValueError, match="never-committed"):
        t2.insert_sql("INSERT INTO t VALUES (1, 'a')")


def test_merge_sql_case_when_condition(spark, root):
    """VERDICT r11: a CASE WHEN inside a clause condition (and a
    'WHEN MATCHED' string literal) must parse — the old bare-WHEN split
    broke both."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b"), (3, "when matched")]))
    src = _df(spark, [(1, "keep"), (2, "flip"), (3, "x")])
    t.merge_sql(src, """
        MERGE INTO tbl USING src ON t.k = s.k
        WHEN MATCHED AND CASE WHEN s.v = 'flip' THEN true ELSE false END
            THEN UPDATE SET v = 'FLIPPED'
        WHEN MATCHED AND t.v = 'when matched' THEN DELETE
        WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, 'WHEN MATCHED')
    """)
    assert _mrows(t) == {(1, "a"), (2, "FLIPPED")}
    # string-literal WHEN in an INSERT value
    t.merge_sql(_df(spark, [(9, "z")]), """
        MERGE INTO tbl USING src ON t.k = s.k
        WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, 'WHEN MATCHED THEN')
    """)
    assert (9, "WHEN MATCHED THEN") in _mrows(t)


# ---- round 12: deletion vectors ----------------------------------------------

from unity_to_bigquery_spark.plans.versioned import _dv_decode, _dv_encode  # noqa: E402


def test_dv_codec_roundtrip():
    import numpy as np

    for positions in (
        [],
        [0],
        [0, 1, 2, 65535, 65536, 65537],
        [7, 7, 7],                      # dups collapse
        list(range(0, 300000, 7)),      # spans many buckets
        [2**40, 2**40 + 1, 5],          # high ordinals
    ):
        got = _dv_decode(_dv_encode(positions)).tolist()
        assert got == sorted(set(positions)), positions
    # compactness: ~2 bytes per ordinal + bucket headers
    blob = _dv_encode(list(range(100_000)))
    assert len(blob) < 100_000 * 2 + 16 * 8
    with pytest.raises(ValueError, match="2\\^48"):
        _dv_encode([-1])
    assert _dv_decode(b"").size == 0


def test_dv_entries_are_net_new_disjoint(spark, root):
    """Overlapping positional deletes across commits store each ordinal
    ONCE: counts stay additive, snapshot_rows exact, re-deleting
    everything already dead is a metadata no-op."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(i, "x") for i in range(10)]).coalesce(1))
    f = t.manifest()["files"][0]
    pos = lambda ps: spark.createDataFrame(  # noqa: E731
        [(f, p) for p in ps], "file STRING, pos LONG"
    )
    v1 = t.commit_delete_positions(pos([1, 2, 3]))
    assert t.snapshot_rows() == 7
    e1 = t.manifest()["pos_deletes"][0]
    assert e1["dv"] is True and e1["counts"] == {f: 3}
    # overlap {2,3} + new {4}: entry stores ONLY the net-new ordinal
    t.commit_delete_positions(pos([2, 3, 4]))
    e2 = t.manifest()["pos_deletes"][1]
    assert e2["counts"] == {f: 1}
    assert t.snapshot_rows() == 6
    assert sorted(r.k for r in t.read().collect()) == [0, 5, 6, 7, 8, 9]
    # fully-dead set: no new commit at all
    v = t.latest_version()
    assert t.commit_delete_positions(pos([1, 4])) == v
    assert t.latest_version() == v
    # validation still loud
    with pytest.raises(ValueError, match="not in the live manifest"):
        t.commit_delete_positions(
            spark.createDataFrame([("nope.parquet", 0)], "file STRING, pos LONG")
        )
    assert v1 == 2


def test_dv_compact_purges_and_cdc_exact(spark, root):
    """compact materializes DVs (files rewritten without dead rows,
    entries shed); CDC emits exact retraction rows for a DV commit."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(i, f"v{i}") for i in range(6)]).coalesce(1))
    v0 = t.latest_version()
    t.delete_rows_where("k IN (2, 4)")
    feed = sorted(
        (r.k, r._change_type) for r in t.changes_with_type(v0).collect()
    )
    assert feed == [(2, "delete"), (4, "delete")]
    assert t.manifest()["pos_deletes"]
    t.compact(target_files=1)
    m = t.manifest()
    assert not m.get("pos_deletes")
    assert sorted(r.k for r in t.read().collect()) == [0, 1, 3, 5]
    assert t.snapshot_rows() == 4


# ---- round 12: ADD COLUMN ... DEFAULT ----------------------------------------


def test_add_column_default_initial_and_write(spark, root):
    """VERDICT r11 #7: old files read the DEFAULT (not NULL) through
    the widened schema; post-add files read stored values — an explicit
    NULL stays NULL (initial-default, not COALESCE); insert_sql uses
    the write default for omitted columns; time travel pre-add never
    sees the column."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    v_pre = t.latest_version()
    t.add_column("score", "double", default="CAST(7.5 AS DOUBLE)")
    got = {(r.k, r.score) for r in t.read().collect()}
    assert got == {(1, 7.5), (2, 7.5)}
    # post-add file with stored values INCLUDING an explicit NULL
    t.commit_append(spark.createDataFrame(
        [(3, "c", 1.25), (4, "d", None)], "k INT, v STRING, score DOUBLE"
    ).coalesce(1))
    got = {(r.k, r.score) for r in t.read().collect()}
    assert got == {(1, 7.5), (2, 7.5), (3, 1.25), (4, None)}
    # time travel: pre-add version has no column at all
    assert "score" not in t.read(v_pre).columns
    # a rewrite of a pre-add file MATERIALIZES the default
    t.update_where({"v": "upper(v)"}, "k <= 2")
    got = {(r.k, r.score) for r in t.read().collect()}
    assert got == {(1, 7.5), (2, 7.5), (3, 1.25), (4, None)}
    # insert_sql write default for the omitted column
    t.insert_sql("INSERT INTO t (k, v) VALUES (9, 'i')")
    assert {(r.k, r.score) for r in t.read().filter("k = 9").collect()} == {(9, 7.5)}
    # add WITHOUT default: old files read NULL (unchanged semantics)
    t.add_column("note", "string")
    assert {r.note for r in t.read().collect()} == {None}
    # validation
    with pytest.raises(ValueError, match="already exists"):
        t.add_column("score", "double")
    with pytest.raises(Exception):
        t.add_column("bad", "int", default="'not a number'")


def test_add_column_default_survives_rename_compact_and_aggregates(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    t.add_column("w", "long", default="100")
    t.rename_column("w", "weight")
    assert {(r.k, r.weight) for r in t.read().collect()} == {(1, 100), (2, 100)}
    t.commit_append(spark.createDataFrame(
        [(3, "c", 5)], "k INT, v STRING, weight LONG"
    ).coalesce(1))
    # aggregate over mixed generations
    import pyspark.sql.functions as F

    got = t.read().agg(F.sum("weight").alias("s")).first()["s"]
    assert got == 205
    # compact materializes the default into the rewritten files
    t.compact(target_files=1)
    assert {(r.k, r.weight) for r in t.read().collect()} == {
        (1, 100), (2, 100), (3, 5)
    }
    # drop removes the default entry with the column
    t.drop_column("weight")
    assert "weight" not in (t.manifest().get("column_defaults") or {})


# ---- round 12: nested-field evolution ----------------------------------------


def _props_df(spark, rows):
    """rows: (k, lang, score) -> k INT, props STRUCT<lang STRING, score INT>"""
    return spark.createDataFrame(
        rows, "k INT, lang STRING, score INT"
    ).selectExpr("k", "struct(lang, score) AS props").coalesce(1)


def test_nested_field_rename_add_promote(spark, root):
    """VERDICT r11 #4: field-ID evolution one level down — rename a
    struct member (metadata-only, old files read through the mapping),
    add a member (old rows NULL), promote a member (int->long, reader
    widening), post-evolution appends store PHYSICAL member names,
    time travel reads the old shape."""
    t = VersionedTable(spark, root)
    t.commit_append(_props_df(spark, [(1, "en", 3), (2, "fr", 5)]))
    v_pre = t.latest_version()
    files_pre = set(t.manifest()["files"])
    t.rename_nested_field("props", "lang", "language")
    t.add_nested_field("props", "rank", "long")
    t.promote_nested_field("props", "score", "long")
    # all three were metadata-only
    assert set(t.manifest()["files"]) == files_pre
    got = {
        (r.k, r.props.language, r.props.score, r.props.rank)
        for r in t.read().collect()
    }
    assert got == {(1, "en", 3, None), (2, "fr", 5, None)}
    assert dict(t.read().schema["props"].dataType.fields[1].__dict__)[
        "dataType"
    ].simpleString() == "bigint"
    # post-evolution append through the new logical layout
    t.commit_append(spark.createDataFrame(
        [(3, "de", 9, 1)], "k INT, language STRING, score LONG, rank LONG"
    ).selectExpr("k", "struct(language, score, rank) AS props").coalesce(1))
    got = {
        (r.k, r.props.language, r.props.score, r.props.rank)
        for r in t.read().collect()
    }
    assert got == {(1, "en", 3, None), (2, "fr", 5, None), (3, "de", 9, 1)}
    # the new file stored the PHYSICAL member name (lang), so a fresh
    # handle reads it identically (no logical names leaked to disk)
    h = VersionedTable(spark, root)
    assert {r.props.language for r in h.read().collect()} == {"en", "fr", "de"}
    # time travel below the evolution reads the ORIGINAL shape
    old = t.read(v_pre)
    assert [f.name for f in old.schema["props"].dataType.fields] == [
        "lang", "score"
    ]
    assert {(r.k, r.props.lang) for r in old.collect()} == {(1, "en"), (2, "fr")}
    # validation
    with pytest.raises(ValueError, match="already exists"):
        t.rename_nested_field("props", "score", "rank")
    with pytest.raises(ValueError, match="no nested field"):
        t.rename_nested_field("props", "nope", "x")
    with pytest.raises(ValueError, match="not a struct"):
        t.rename_nested_field("k", "a", "b")
    with pytest.raises(ValueError, match="not a safe promotion"):
        t.promote_nested_field("props", "language", "int")


def test_nested_rename_cdc_normalizes_to_head(spark, root):
    """A CDC window crossing a nested rename emits every frame under
    the TARGET version's member names."""
    t = VersionedTable(spark, root)
    t.commit_append(_props_df(spark, [(1, "en", 3)]))
    t.rename_nested_field("props", "lang", "language")
    t.commit_append(spark.createDataFrame(
        [(2, "fr", 4)], "k INT, language STRING, score INT"
    ).selectExpr("k", "struct(language, score) AS props").coalesce(1))
    feed = t.changes_with_type(0)
    assert [f.name for f in feed.schema["props"].dataType.fields] == [
        "language", "score"
    ]
    got = sorted(
        (r.k, r.props.language, r._change_type) for r in feed.collect()
    )
    assert got == [(1, "en", "insert"), (2, "fr", "insert")]
    # rewrite through the evolved shape keeps values intact
    t.update_where({"k": "k + 10"}, "k = 1")
    assert {(r.k, r.props.language) for r in t.read().collect()} == {
        (11, "en"), (2, "fr")
    }


def test_execute_dml_dispatcher(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b")]))
    t.execute_dml("INSERT INTO t (k, v) VALUES (3, 'c')")
    t.execute_dml("UPDATE t SET v = upper(v) WHERE k = 1")
    t.execute_dml("DELETE FROM t WHERE k = 2")
    t.execute_dml(
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        source=_df(spark, [(3, "C"), (4, "d")]),
    )
    assert _mrows(t) == {(1, "A"), (3, "C"), (4, "d")}
    with pytest.raises(ValueError, match="needs source"):
        t.execute_dml("MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN DELETE")
    with pytest.raises(ValueError, match="unsupported statement"):
        t.execute_dml("SELECT 1")


def test_cluster_by_rebases_over_append(spark, root, monkeypatch):
    t = VersionedTable(spark, root)
    t.commit_append(spark.createDataFrame(
        [(i, i % 7) for i in range(40)], "k INT, v INT"
    ))
    orig = t._write_files

    def write_then_race(df, **kw):
        staged = orig(df, **kw)
        VersionedTable(spark, root).commit_append(
            spark.createDataFrame([(999, 0)], "k INT, v INT")
        )
        return staged

    monkeypatch.setattr(t, "_write_files", write_then_race)
    t.cluster_by(["k", "v"], target_files=2)
    h = VersionedTable(spark, root)
    assert h.read().count() == 41
    assert (999, 0) in {(r.k, r.v) for r in h.read().collect()}
    assert h.manifest()["op"] == "cluster_by"
    assert h.manifest()["sort_order"]["type"] == "zorder"


def test_drop_nested_field_and_readd(spark, root):
    """Round 12: metadata-only nested DROP — reads stop requesting the
    member (nested schema pruning); a re-added same-name member gets a
    fresh physical slot so historical values never resurrect."""
    t = VersionedTable(spark, root)
    t.commit_append(_props_df(spark, [(1, "en", 3), (2, "fr", 5)]))
    files0 = set(t.manifest()["files"])
    t.drop_nested_field("props", "score")
    assert set(t.manifest()["files"]) == files0
    assert [f.name for f in t.read().schema["props"].dataType.fields] == ["lang"]
    # re-add same name: old files must read NULL, not the old values
    t.add_nested_field("props", "score", "int")
    got = {(r.k, r.props.score) for r in t.read().collect()}
    assert got == {(1, None), (2, None)}
    entry = next(
        e for e in t.manifest()["column_mapping"] if e["name"] == "props"
    )
    assert "score" in entry.get("retired_fields", [])
    new_phys = next(n["phys"] for n in entry["fields"] if n["name"] == "score")
    assert new_phys != "score"  # fresh physical slot
    t.drop_nested_field("props", "lang")  # two members: fine
    with pytest.raises(ValueError, match="last member"):
        t.drop_nested_field("props", "score")


def test_auto_compact_dv_dead_fraction(spark, root):
    """Round 12: the DV lifecycle's purge trigger — ONE deletion-vector
    entry holding >20% dead rows trips auto_compact even though the
    entry COUNT is far below the threshold."""
    t = VersionedTable(spark, root)
    t.commit_append(spark.createDataFrame(
        [(i, "x") for i in range(100)], "k INT, v STRING"
    ).coalesce(1))
    t.delete_rows_where("k % 3 = 0")  # 34 dead rows in one DV entry
    m = t.manifest()
    assert len(m["pos_deletes"]) == 1
    assert t.auto_compact(max_delete_entries=8) is True
    m2 = t.manifest()
    assert m2["op"] == "compact" and not m2.get("pos_deletes")
    assert t.read().count() == 66
    # healthy table: no-op
    assert t.auto_compact() is False


def test_branch_rebase_reinsert_shape_refuses(spark, root):
    """A branch that deletes a key then RE-INSERTS it (replace_keys
    shape) cannot rebase — re-sequencing the delete at the publish
    version would kill the re-inserted rows."""
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    t.create_branch("rk")
    b = t.branch("rk")
    b.commit_delete_where(spark.createDataFrame([(2,)], "k INT"), "k")
    b.commit_append(_df(spark, [(2, "b2")]).coalesce(1))  # re-insert
    assert _rows(b.read()) == [(1, "a"), (2, "b2")]
    t.commit_append(_df(spark, [(100, "m")]).coalesce(1))  # main moves
    with pytest.raises(ConcurrentWriteError, match="re-inserted after"):
        t.publish_branch("rk")
    # fast-forward (main NOT moved) still handles the same shape fine
    r2 = root + "_ff"
    t2 = VersionedTable(spark, r2)
    t2.commit_append(_df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    t2.create_branch("rk")
    b2 = t2.branch("rk")
    b2.commit_delete_where(spark.createDataFrame([(2,)], "k INT"), "k")
    b2.commit_append(_df(spark, [(2, "b2")]).coalesce(1))
    t2.publish_branch("rk")
    assert _rows(t2.read()) == [(1, "a"), (2, "b2")]


# ---- round 13: ADVICE fixes + ALTER TABLE DDL completeness -------------------


def test_conjuncts_double_quote_and_backtick():
    """ADVICE r12 (medium): Spark treats double-quoted text as a string
    literal by default, and backticks quote identifiers — an AND inside
    either must never split (a mis-split would parse an inner fragment
    as a prunable conjunct and silently skip files)."""
    c = VersionedTable._conjuncts
    assert c('note = "x AND k = 5 AND y" AND j = 2') == [
        'note = "x AND k = 5 AND y"', "j = 2",
    ]
    assert c('v = "a""b AND c" AND k = 1') == ['v = "a""b AND c"', "k = 1"]
    assert c("`weird AND name` = 1 AND k = 2") == [
        "`weird AND name` = 1", "k = 2",
    ]


def test_execute_dml_alter_dispatcher(spark, root):
    """VERDICT r12 #2: the full ALTER TABLE grammar dispatches onto the
    existing evolution engines (top-level + nested via dotted names)."""
    t = VersionedTable(spark, root)
    t.commit_append(_props_df(spark, [(1, "en", 3), (2, "fr", 5)]))
    files0 = set(t.manifest()["files"])
    t.execute_dml("ALTER TABLE t ADD COLUMN note STRING DEFAULT 'n/a'")
    t.execute_dml("ALTER TABLE t RENAME COLUMN note TO remark")
    t.execute_dml("ALTER TABLE t RENAME COLUMN props.lang TO language")
    t.execute_dml("ALTER TABLE t ADD COLUMN props.rank BIGINT")
    t.execute_dml("ALTER TABLE t ALTER COLUMN props.score TYPE BIGINT")
    t.execute_dml("ALTER TABLE t ALTER COLUMN k SET DATA TYPE BIGINT")
    got = {
        (r.k, r.remark, r.props.language, r.props.score, r.props.rank)
        for r in t.read().collect()
    }
    assert got == {(1, "n/a", "en", 3, None), (2, "n/a", "fr", 5, None)}
    sch = dict((f.name, f.dataType.simpleString()) for f in t.read().schema)
    assert sch["k"] == "bigint"
    t.execute_dml("ALTER TABLE t DROP COLUMN props.rank")
    t.execute_dml("ALTER TABLE t DROP COLUMN remark")
    assert set(t.read().columns) == {"k", "props"}
    assert [f.name for f in t.read().schema["props"].dataType.fields] == [
        "language", "score",
    ]
    # every statement above was metadata-only
    assert set(t.manifest()["files"]) == files0
    with pytest.raises(ValueError, match="supported grammar"):
        t.execute_dml("ALTER TABLE t CLUSTER BY (k)")
    with pytest.raises(ValueError, match="one nesting level"):
        t.execute_dml("ALTER TABLE t DROP COLUMN a.b.c")
    with pytest.raises(ValueError, match="DEFAULT/GENERATED are not supported"):
        t.execute_dml("ALTER TABLE t ADD COLUMN props.w INT DEFAULT 1")


def test_struct_default_with_nested_rename(spark, root):
    from pyspark.sql import functions as sf

    """ADVICE r12 (low): a struct column with BOTH a declared default
    and a later nested-member rename — post-add files must read through
    the field-ID rebuild (logical member names), not the raw physical
    struct."""
    t = VersionedTable(spark, root)
    t.commit_append(spark.createDataFrame([(1,), (2,)], "k INT"))
    t.add_column(
        "props", "struct<lang:string,score:int>",
        default="named_struct('lang', 'xx', 'score', 0)",
    )
    t.commit_append(
        _props_df(spark, [(3, "en", 7)]).select(
            "k", sf.col("props").cast("struct<lang:string,score:int>")
        )
    )
    t.rename_nested_field("props", "score", "pts")
    got = {(r.k, r.props.lang, r.props.pts) for r in t.read().collect()}
    assert got == {(1, "xx", 0), (2, "xx", 0), (3, "en", 7)}


def test_branch_rebase_restamps_pos_delete_versions(spark, root):
    """ADVICE r12 (low): pos-delete entries carried through a branch
    rebase re-stamp at the publish version (their branch-local numbers
    reference commits that don't exist on main)."""
    t = VersionedTable(spark, root)
    t.commit_append(
        spark.createDataFrame([(i, "x") for i in range(20)], "k INT, v STRING")
        .coalesce(1)
    )
    t.create_branch("wap")
    b = t.branch("wap")
    b.delete_rows_where("k = 3", mode="mor")   # pos-delete on the branch
    t.commit_append(_df(spark, [(100, "y")]).coalesce(1))  # main moves
    v = t.publish_branch("wap")
    m = t.manifest()
    assert m["pos_deletes"], "expected a carried pos-delete entry"
    assert all(d["version"] == v for d in m["pos_deletes"])
    ks = {r.k for r in t.read().select("k").collect()}
    assert 3 not in ks and 100 in ks and len(ks) == 20


# ---- round 13: generated columns (VERDICT r12 #5) -----------------------------

from unity_to_bigquery_spark.plans.versioned import (  # noqa: E402
    ConstraintViolationError,
)


def test_generated_column_lifecycle(spark, root):
    """Backfill for pre-add files, materialization on write, staged-row
    validation, UPDATE recompute, insert_sql omission, and pruning via
    the materialized column's stats."""
    t = VersionedTable(spark, root, distinct_index_cols=("cat",))
    t.commit_append(
        spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "k INT, x DOUBLE"
        ).coalesce(1)
    )
    t.add_generated_column(
        "cat", "string", "CASE WHEN k < 100 THEN 'lo' ELSE 'hi' END"
    )
    # pre-add file computes at scan
    assert {r.cat for r in t.read().collect()} == {"lo"}
    # pure-hi and pure-lo post-add files -> distinct stats prune
    t.commit_append(
        spark.createDataFrame([(200 + i, 1.0) for i in range(5)],
                              "k INT, x DOUBLE").coalesce(1)
    )
    t.commit_append(
        spark.createDataFrame([(20 + i, 1.0) for i in range(5)],
                              "k INT, x DOUBLE").coalesce(1)
    )
    assert t.read().filter("k = 201").first().cat == "hi"
    cand, skipped = t.prune_files_condition("cat = 'hi'")
    assert skipped == 1 and len(cand) == 2  # pre-add file kept (no stats)
    # provided-and-wrong raises; provided-and-right lands
    with pytest.raises(ConstraintViolationError, match="generated column"):
        t.commit_append(
            spark.createDataFrame([(5, 1.0, "hi")], "k INT, x DOUBLE, cat STRING")
        )
    t.commit_append(
        spark.createDataFrame([(5, 1.0, "lo")], "k INT, x DOUBLE, cat STRING")
    )
    # UPDATE recomputes when the source column moves
    t.update_where({"k": "k + 1000"}, "k = 20")
    assert t.read().filter("k = 1020").first().cat == "hi"
    # insert_sql omits generated columns and the write path computes
    t.insert_sql("INSERT INTO t (k, x) VALUES (999, CAST(0.0 AS DOUBLE))")
    assert t.read().filter("k = 999").first().cat == "hi"
    # SQL front door + dependency guards
    with pytest.raises(ValueError, match="reference it"):
        t.rename_column("k", "kk")
    with pytest.raises(ValueError, match="reference it"):
        t.drop_column("k")
    with pytest.raises(ValueError, match="other generated"):
        t.add_generated_column("cat2", "string", "upper(cat)")
    t.drop_column("cat")
    t.rename_column("k", "kk")  # free after the dependent drop
    assert set(t.read().columns) == {"kk", "x"}


def test_generated_column_sql_and_merge(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(spark.createDataFrame([(1, 2.0)], "k INT, x DOUBLE"))
    t.execute_dml(
        "ALTER TABLE t ADD COLUMN x2 DOUBLE GENERATED ALWAYS AS "
        "(x * CAST(2 AS DOUBLE))"
    )
    t.insert_sql("INSERT INTO t (k, x) VALUES (2, CAST(3.0 AS DOUBLE))")
    assert sorted((r.k, r.x2) for r in t.read().collect()) == [(1, 4.0), (2, 6.0)]
    # merge recomputes on updated rows
    src = spark.createDataFrame([(1, 10.0), (3, 5.0)], "k INT, x DOUBLE")
    t.merge(src, "k", [when_matched_update(), when_not_matched_insert()])
    assert sorted((r.k, r.x2) for r in t.read().collect()) == [
        (1, 20.0), (2, 6.0), (3, 10.0),
    ]


# ---- round 13: OPTIMIZE / VACUUM SQL front door ------------------------------


def test_maintenance_sql_front_door(spark, root, tmp_path):
    t = VersionedTable(spark, root)
    for i in range(3):
        t.commit_append(_df(spark, [(i, "x")]).coalesce(1))
    assert len(t.manifest()["files"]) == 3
    t.execute_dml("OPTIMIZE t")
    assert len(t.manifest()["files"]) == 1
    assert t.read().count() == 3
    # ZORDER form records the persisted sort order (incl. a string col)
    t.execute_dml("OPTIMIZE t ZORDER BY (k, v)")
    assert t.manifest()["sort_order"]["cols"] == ["k", "v"]
    # VACUUM with explicit version retention GCs the pre-compact files
    before = set(t.manifest()["files"])
    dropped = t.execute_dml("VACUUM t RETAIN 1 VERSIONS")
    assert set(t.manifest()["files"]) == before and t.read().count() == 3
    assert isinstance(dropped, list)
    # partition-scoped OPTIMIZE WHERE (one compacted tuple, one untouched)
    r2 = str(tmp_path / "pt")
    p = VersionedTable(spark, r2, partition_spec=["v"])
    for i in range(2):
        p.commit_append(_df(spark, [(i, "a"), (i, "b")]).coalesce(1))
    files_b = [f for f in p.manifest()["files"] if "__p_v=b" in f]
    p.execute_dml("OPTIMIZE t WHERE v = 'a'")
    m = p.manifest()
    assert [f for f in m["files"] if "__p_v=b" in f] == files_b
    assert len([f for f in m["files"] if "__p_v=a" in f]) == 1
    # rejections name the grammar
    with pytest.raises(ValueError, match="mutually exclusive"):
        t.execute_dml("OPTIMIZE t WHERE k = 1 ZORDER BY (k)")
    with pytest.raises(ValueError, match="grammar"):
        t.execute_dml("VACUUM t RETAIN 3 HOURS")
    with pytest.raises(ValueError, match="col = literal"):
        t.execute_dml("OPTIMIZE t WHERE k > 1")


# ---- round 13: ingest expectations + quarantine ------------------------------


def test_ingest_expectations_quarantine_lifecycle(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "ok")]))
    t.add_expectation("k_positive", "k > 0", on_violation="quarantine")
    t.add_expectation("v_short", "length(v) <= 3", on_violation="drop")
    # a mixed batch: clean / quarantined / dropped / doubly-bad
    t.commit_append(
        _df(spark, [(2, "a"), (-5, "b"), (3, "toolong"), (-9, "toolong")])
    )
    assert sorted((r.k, r.v) for r in t.read().collect()) == [(1, "ok"), (2, "a")]
    q = {
        (r.k, r.v, r["__violated"])
        for r in t.quarantine_table().read().collect()
    }
    # only quarantine-routed rows land there; tags name EVERY violated
    # expectation (sorted), incl. the doubly-bad row
    assert q == {(-5, "b", "k_positive"), (-9, "toolong", "k_positive,v_short")}
    # NULL passes (CHECK semantics)
    t2 = VersionedTable(spark, root + "_null")
    t2.add_expectation("k_positive", "k > 0")
    t2.commit_append(
        spark.createDataFrame([(None, "n")], "k INT, v STRING")
    )
    assert t2.read().count() == 1
    # a clean batch commits no quarantine version (probe short-circuit)
    qv = t.quarantine_table().latest_version()
    t.commit_append(_df(spark, [(10, "z")]))
    assert t.quarantine_table().latest_version() == qv
    # rewrite paths never re-route landed rows: tighten the gate, then
    # UPDATE a pre-existing row that now violates it — row stays
    t.drop_expectation("k_positive")
    t.add_expectation("k_small", "k < 100", on_violation="quarantine")
    t.update_where({"k": "k + 1000"}, "k = 10")
    assert (1010, "z") in {(r.k, r.v) for r in t.read().collect()}
    # expectations survive in the manifest + SQL INSERT routes through
    assert set(t.expectations()) == {"v_short", "k_small"}
    t.insert_sql("INSERT INTO t (k, v) VALUES (500, 'q')")
    assert (500, "q") not in {(r.k, r.v) for r in t.read().collect()}
    assert (500, "q") in {
        (r.k, r.v) for r in t.quarantine_table().read().collect()
    }
    # rejections
    with pytest.raises(ValueError, match="drop.*quarantine"):
        t.add_expectation("x", "k > 0", on_violation="fail")
    with pytest.raises(ValueError, match="already exists"):
        t.add_expectation("v_short", "true")


def test_expectation_on_generated_column(spark, root):
    """Expectations may gate on DERIVED features: the generated column
    materializes before routing, so quarantined rows carry the
    computed value; surviving provided-and-wrong values still raise."""
    t = VersionedTable(spark, root)
    t.commit_append(
        spark.createDataFrame([(10, 2.0)], "k INT, x DOUBLE")
    )
    t.add_generated_column("x2", "double", "x * CAST(2 AS DOUBLE)")
    t.add_expectation("x2_small", "x2 < 10.0", on_violation="quarantine")
    t.commit_append(
        spark.createDataFrame([(11, 3.0), (12, 50.0)], "k INT, x DOUBLE")
    )
    assert {r.k for r in t.read().collect()} == {10, 11}
    q = t.quarantine_table().read().collect()
    assert [(r.k, r.x2, r["__violated"]) for r in q] == [(12, 100.0, "x2_small")]
    # surviving rows with a provided-and-wrong generated value raise
    from unity_to_bigquery_spark.plans.versioned import (
        ConstraintViolationError as CVE,
    )
    with pytest.raises(CVE, match="generated column"):
        t.commit_append(
            spark.createDataFrame(
                [(13, 1.0, 5.0)], "k INT, x DOUBLE, x2 DOUBLE"
            )  # 5.0 passes x2_small but is NOT x*2 -> validation raises
        )
    # a provided-and-wrong value that ALSO fails the expectation is
    # captured raw in quarantine (review queue), not raised
    t.commit_append(
        spark.createDataFrame([(14, 1.0, 99.0)], "k INT, x DOUBLE, x2 DOUBLE")
    )
    assert (14, 99.0) in {
        (r.k, r.x2) for r in t.quarantine_table().read().collect()
    }
