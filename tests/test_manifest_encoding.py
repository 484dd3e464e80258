"""Round-10 manifest encoding (VERDICT r9 #1): delta manifests +
parquet checkpoints.

The contract under test: a table whose log is delta-encoded (forced
via manifest_inline_max=0) behaves BIT-IDENTICALLY to the inline
round-1..9 encoding across the full op surface — reads, time travel,
CDC, merge-on-read deletes, pruning, vacuum — while commits write
O(delta) JSON and reads anchor on parquet checkpoints.
"""

from __future__ import annotations

import json
import os

import pytest

from unity_to_bigquery_spark.plans.versioned import (
    NoSuchVersionError,
    VersionedTable,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _df(spark, pairs):
    return spark.createDataFrame(pairs, "k INT, v STRING")


def _mfiles(root):
    d = os.path.join(root, "_manifests")
    return sorted(os.listdir(d))


def _drive(spark, t):
    """One op-diverse commit sequence applied to a table."""
    t.commit_append(_df(spark, [(1, "a"), (2, "b")]))
    t.commit_append(_df(spark, [(3, "c"), (4, "d")]))
    t.commit_delete_where(spark.createDataFrame([(2,)], "k INT"), "k")
    t.commit_append(_df(spark, [(2, "B2"), (5, "e")]))  # re-insert after delete
    t.merge_upsert(_df(spark, [(3, "C"), (6, "f")]), "k")
    t.commit_overwrite(
        t.read().localCheckpoint(eager=True)
    )  # rewrite sheds delete entries
    f0 = t.manifest()["files"][0]
    pairs = spark.createDataFrame([(f0, 0)], "file STRING, pos BIGINT")
    t.commit_delete_positions(pairs)
    t.commit_append(_df(spark, [(9, "z")]))
    t.restore(t.latest_version() - 1)


def test_delta_encoding_twin_equivalence(spark, tmp_path):
    """Same op sequence on a forced-delta table and an inline twin:
    every version's snapshot, CDC window, and net fold agree."""
    rd = str(tmp_path / "delta")
    ri = str(tmp_path / "inline")
    td = VersionedTable(spark, rd, manifest_inline_max=0,
                        manifest_checkpoint_every=3)
    ti = VersionedTable(spark, ri)
    _drive(spark, td)
    _drive(spark, ti)
    assert td.latest_version() == ti.latest_version()
    for v in td.versions():
        assert _rows(td.read(v)) == _rows(ti.read(v)), f"version {v}"
        assert td.snapshot_rows(v) == ti.snapshot_rows(v)
    # delta JSONs really are delta-encoded (no inline file list)
    deltas = [
        n for n in _mfiles(rd) if n.startswith("v") and n.endswith(".json")
    ]
    for n in deltas:
        with open(os.path.join(rd, "_manifests", n)) as fh:
            m = json.load(fh)
        assert "files" not in m and "files_add" in m
    # checkpoints landed every 3rd delta
    ckpts = [n for n in _mfiles(rd) if n.startswith("ckpt-")]
    assert ckpts, "no checkpoint written on a 9-delta log"
    # CDC across the whole window agrees between encodings
    for since in (0, 2, 5):
        assert _rows(td.changes(since)) == _rows(ti.changes(since))
    fd = _rows(td.changes_final_state("k", 1))
    fi = _rows(ti.changes_final_state("k", 1))
    assert fd == fi
    # history stays light and complete
    assert [h["op"] for h in td.history()] == [h["op"] for h in ti.history()]


def test_checkpoint_anchor_and_self_heal(spark, tmp_path):
    """Reads anchor on the checkpoint; a MISSING checkpoint (crash
    between JSON publish and parquet write) degrades to a longer walk
    and self-heals by rematerializing it."""
    root = str(tmp_path / "t")
    t = VersionedTable(spark, root, manifest_inline_max=0,
                       manifest_checkpoint_every=2)
    for i in range(7):
        t.commit_append(_df(spark, [(i, f"v{i}")]))
    want = _rows(t.read())
    ckpts = [n for n in _mfiles(root) if n.startswith("ckpt-")]
    assert len(ckpts) >= 2
    # fresh handle (cold cache) resolves from the checkpoint
    t2 = VersionedTable(spark, root, manifest_inline_max=0,
                        manifest_checkpoint_every=2)
    assert _rows(t2.read()) == want
    # simulate the crash: delete every checkpoint -> chain walk to v0
    for n in ckpts:
        os.remove(os.path.join(root, "_manifests", n))
    t3 = VersionedTable(spark, root, manifest_inline_max=0,
                        manifest_checkpoint_every=2)
    assert _rows(t3.read()) == want
    # the long walk self-healed the head's checkpoint
    healed = [n for n in _mfiles(root) if n.startswith("ckpt-")]
    assert healed, "walk past checkpoint_every did not rematerialize"


def test_vacuum_anchors_retained_delta_manifests(spark, tmp_path):
    """Vacuum on a delta log: retained versions stay readable (their
    checkpoints are materialized before ancestor manifests drop);
    vacuumed versions raise NoSuchVersionError; dropped checkpoints
    are GC'd with their manifests."""
    root = str(tmp_path / "t")
    t = VersionedTable(spark, root, manifest_inline_max=0,
                       manifest_checkpoint_every=100)  # no natural ckpts
    for i in range(6):
        t.commit_overwrite(_df(spark, [(i, f"v{i}")]))
    live = _rows(t.read())
    t.vacuum(keep_last=2, orphan_grace_sec=0)
    t2 = VersionedTable(spark, root, manifest_inline_max=0)
    assert _rows(t2.read()) == live
    assert _rows(t2.read(5)) == [(4, "v4")]
    with pytest.raises(NoSuchVersionError):
        t2.manifest(2)
    names = _mfiles(root)
    assert not any(n == "ckpt-v00000002.parquet" for n in names)


def test_legacy_inline_log_migration(spark, tmp_path):
    """A pre-round-10 table (inline JSON manifests) reopened with the
    delta encoding keeps its history readable; new commits go delta
    and chain onto the inline anchor."""
    root = str(tmp_path / "t")
    old = VersionedTable(spark, root)  # inline defaults
    old.commit_append(_df(spark, [(1, "a")]))
    old.commit_append(_df(spark, [(2, "b")]))
    new = VersionedTable(spark, root, manifest_inline_max=0,
                         manifest_checkpoint_every=2)
    new.commit_append(_df(spark, [(3, "c")]))
    new.commit_delete_where(spark.createDataFrame([(1,)], "k INT"), "k")
    assert _rows(new.read()) == [(2, "b"), (3, "c")]
    assert _rows(new.read(2)) == [(1, "a"), (2, "b")]  # inline time travel
    with open(os.path.join(root, "_manifests", "v00000003.json")) as fh:
        assert "files_add" in json.load(fh)
    # and back: a third handle with inline defaults still reads all
    back = VersionedTable(spark, root)
    assert _rows(back.read()) == [(2, "b"), (3, "c")]


def test_branch_on_delta_log(spark, tmp_path):
    """Branch sub-logs inherit the encoding; WAP publish lands the
    audited state exactly."""
    root = str(tmp_path / "t")
    t = VersionedTable(spark, root, manifest_inline_max=0,
                       manifest_checkpoint_every=2)
    t.commit_append(_df(spark, [(1, "a")]))
    t.create_branch("wap")
    b = t.branch("wap")
    for i in range(4):
        b.commit_append(_df(spark, [(10 + i, f"w{i}")]))
    assert len(_rows(t.read())) == 1  # main unaffected pre-publish
    t.publish_branch("wap")
    assert _rows(t.read()) == [(1, "a")] + [
        (10 + i, f"w{i}") for i in range(4)
    ]


# ---- round 11: executor-side manifest fold (VERDICT r10 #7) -----------------


def test_spark_fold_checkpoint_equivalent_to_driver_fold(spark, tmp_path):
    """The Spark-job fold must produce a checkpoint whose RESOLVED
    manifest is semantically identical to the driver fold: same file
    SET, same per-file versions and stats, identical reads. (Row order
    differs by design: executor fold sorts (added_version, file).)"""
    import os
    import shutil

    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    def build(root):
        t = VersionedTable(
            spark, root, manifest_inline_max=0, manifest_checkpoint_every=100
        )
        t.commit_append(spark.createDataFrame(
            [(i, f"a{i}") for i in range(6)], "k INT, v STRING"
        ))
        t.commit_append(spark.createDataFrame(
            [(100 + i, f"b{i}") for i in range(6)], "k INT, v STRING"
        ))
        t.merge_upsert(spark.createDataFrame(
            [(2, "UP"), (200, "NEW")], "k INT, v STRING"), "k"
        )
        t.commit_delete_where(spark.createDataFrame([(3,)], "k INT"), "k")
        t.enable_row_lineage()  # ships a stats_update overlay on a delta log
        t.compact(target_files=2)
        t.commit_append(spark.createDataFrame([(999, "z")], "k INT, v STRING"))
        return t

    ra = str(tmp_path / "a")
    ta = build(ra)
    v = ta.latest_version()
    # driver reconstruct FIRST (fresh handle, no checkpoint on disk)
    mb = VersionedTable(spark, ra).manifest(v)
    rows_b = sorted(map(tuple, VersionedTable(spark, ra).read().collect()))
    # executor-side fold, then a fresh handle anchors on the parquet
    path = ta.spark_fold_checkpoint()
    assert os.path.exists(path)
    fresh = VersionedTable(spark, ra)
    ma = fresh.manifest(v)
    assert set(ma["files"]) == set(mb["files"])
    assert ma["file_versions"] == mb["file_versions"]
    assert ma["stats"] == mb["stats"]
    assert ma["deletes"] == mb["deletes"]
    assert sorted(map(tuple, fresh.read().collect())) == rows_b
    # idempotent
    assert ta.spark_fold_checkpoint() == path
    shutil.rmtree(ra, ignore_errors=True)


def test_spark_fold_from_prior_checkpoint_anchor(spark, tmp_path):
    """Fold anchored on an EARLIER checkpoint (not inline): deltas past
    the anchor apply executor-side; lineage row ids survive verbatim."""
    from unity_to_bigquery_spark.plans.versioned import VersionedTable

    root = str(tmp_path / "t")
    t = VersionedTable(
        spark, root, manifest_inline_max=0, manifest_checkpoint_every=2,
        row_lineage=True,
    )
    t.commit_append(spark.createDataFrame(
        [(i, "x") for i in range(5)], "k INT, v STRING"
    ))
    t.commit_append(spark.createDataFrame([(10, "y")], "k INT, v STRING"))
    t.commit_append(spark.createDataFrame([(11, "z")], "k INT, v STRING"))
    ids_before = {r.k: r["__row_id"] for r in t.read_with_lineage().collect()}
    t.commit_delete_where(spark.createDataFrame([(0,)], "k INT"), "k")
    t.spark_fold_checkpoint()
    t2 = VersionedTable(spark, root)
    ids_after = {r.k: r["__row_id"] for r in t2.read_with_lineage().collect()}
    assert ids_after == {k: i for k, i in ids_before.items() if k != 0}
