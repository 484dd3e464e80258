"""Round-10 column mapping (VERDICT r9 #2): field-ID indirection makes
RENAME and DROP metadata-only commits — no file rewrite, time travel
across the rename reads old snapshots under their own names, CDC
windows crossing a rename normalize by field id, and pruning/stats
translate logical -> physical names.
"""

from __future__ import annotations

import pytest

from unity_to_bigquery_spark.plans.versioned import VersionedTable


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, pairs, schema="k INT, v STRING"):
    return spark.createDataFrame(pairs, schema)


def test_rename_is_metadata_only_and_time_travels(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b")]))
    files_before = list(t.manifest()["files"])
    t.rename_column("v", "label")
    m = t.manifest()
    assert m["files"] == files_before  # zero data IO
    assert t.read().columns == ["k", "label"]
    assert _rows(t.read()) == [(1, "a"), (2, "b")]
    # time travel: pre-rename snapshot reads pre-rename names
    assert t.read(1).columns == ["k", "v"]
    assert _rows(t.read(1)) == [(1, "a"), (2, "b")]
    # new writes use the new logical name; old files still resolve
    t.commit_append(_df(spark, [(3, "c")], "k INT, label STRING"))
    assert _rows(t.read()) == [(1, "a"), (2, "b"), (3, "c")]
    # filtered read + range pruning on the renamed column
    got = _rows(t.read().filter("label = 'b'"))
    assert got == [(2, "b")]
    kept, _ = t.prune_files("label", "a", "a")
    assert set(kept) and _rows(t.read_pruned("label", "a", "a")) == [(1, "a")]


def test_rename_guards(spark, root):
    import datetime as dt

    t = VersionedTable(spark, root, partition_spec=["day(ts)"])
    t.commit_append(
        spark.createDataFrame(
            [(1, "a", dt.datetime(2024, 1, 1))], "k INT, v STRING, ts TIMESTAMP"
        )
    )
    with pytest.raises(ValueError, match="partition-spec source"):
        t.rename_column("ts", "event_ts")
    t2 = VersionedTable(spark, root + "2")
    t2.commit_append(_df(spark, [(1, "a"), (2, "b")]))
    t2.commit_delete_where(spark.createDataFrame([(1,)], "k INT"), "k")
    with pytest.raises(ValueError, match="live equality delete"):
        t2.rename_column("k", "id")
    t2.compact()  # materializes the delete
    t2.rename_column("k", "id")
    assert t2.read().columns == ["id", "v"]
    t2.add_constraint("id_pos", "id > 0")
    with pytest.raises(ValueError, match="constraint"):
        t2.rename_column("id", "key")
    with pytest.raises(ValueError, match="already exists"):
        t2.rename_column("v", "id")
    with pytest.raises(ValueError, match="no column"):
        t2.rename_column("ghost", "x")


def test_drop_and_readd_column(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(
        _df(spark, [(1, "a", 10), (2, "b", 20)], "k INT, v STRING, w INT")
    )
    t.drop_column("w")
    assert t.read().columns == ["k", "v"]
    assert _rows(t.read()) == [(1, "a"), (2, "b")]
    assert t.read(1).columns == ["k", "v", "w"]  # time travel keeps it
    # re-add the same logical name: fresh field id, auto-suffixed
    # physical slot; old files read NULL (never their retired data)
    t.commit_append(
        _df(spark, [(3, "c", 99)], "k INT, v STRING, w INT"),
        merge_schema=True,
    )
    got = {r.k: r.w for r in t.read().collect()}
    assert got == {1: None, 2: None, 3: 99}
    cm = {e["name"]: e for e in t.column_mapping()}
    assert cm["w"]["phys"] != "w"  # retired slot not reused
    with pytest.raises(ValueError, match="no column"):
        t.drop_column("ghost")
    # the metadata-only add_column takes a fresh slot the same way
    t.drop_column("v")
    t.add_column("v", "string")
    cm = {e["name"]: e for e in t.column_mapping()}
    assert cm["v"]["phys"] not in ("v", cm["w"]["phys"])
    assert {r.k: r.v for r in t.read().collect()} == {1: None, 2: None, 3: None}


def test_cdc_across_rename_normalizes_by_field_id(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b")]))     # v1
    t.rename_column("v", "label")                          # v3 (enable+rename)
    t.commit_append(_df(spark, [(3, "c")], "k INT, label STRING"))  # v4
    t.commit_delete_where(spark.createDataFrame([(1,)], "k INT"), "k")  # v5
    ch = t.changes_with_type(0)
    assert "label" in ch.columns and "v" not in ch.columns
    got = sorted(
        (r.k, r.label, r._change_type, r._commit_version)
        for r in ch.collect()
    )
    assert got == [
        (1, "a", "delete", 5),
        (1, "a", "insert", 1),
        (2, "b", "insert", 1),
        (3, "c", "insert", 4),
    ]
    # net fold over the renamed feed
    fs = sorted((r.k, r._change_type) for r in t.changes_final_state("k", 0).collect())
    # insert-then-delete inside the window nets to a (no-op-safe) delete
    assert fs == [(1, "delete"), (2, "upsert"), (3, "upsert")]


def test_merge_and_compact_after_rename(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b")]))
    t.rename_column("v", "label")
    t.merge_upsert(_df(spark, [(2, "B"), (4, "d")], "k INT, label STRING"), "k")
    assert _rows(t.read()) == [(1, "a"), (2, "B"), (4, "d")]
    t.compact()
    assert _rows(t.read()) == [(1, "a"), (2, "B"), (4, "d")]
    assert t.read().columns == ["k", "label"]
    # snapshot metadata answers under the logical name
    assert t.snapshot_rows() == 3
    assert t.snapshot_minmax("label") == ("B", "d")


def test_restore_across_rename_reverts_names(spark, root):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a")]))            # v1
    t.rename_column("v", "label")                       # v2+v3
    t.commit_append(_df(spark, [(2, "x")], "k INT, label STRING"))  # v4
    t.restore(1)                                        # v5: pre-mapping state
    assert t.read().columns == ["k", "v"]
    assert _rows(t.read()) == [(1, "a")]
    # restore FORWARD to the renamed state
    t.restore(4)
    assert t.read().columns == ["k", "label"]
    assert _rows(t.read()) == [(1, "a"), (2, "x")]


def test_clone_carries_mapping(spark, root, tmp_path):
    t = VersionedTable(spark, root)
    t.commit_append(_df(spark, [(1, "a"), (2, "b")]))
    t.rename_column("v", "label")
    dest = t.clone_to(spark, str(tmp_path / "clone"))
    assert dest.read().columns == ["k", "label"]
    assert _rows(dest.read()) == [(1, "a"), (2, "b")]


def test_mapping_with_delta_encoding_and_branches(spark, root):
    """Mapping composes with the round-10 delta manifest encoding and
    branch handles."""
    t = VersionedTable(spark, root, manifest_inline_max=0,
                       manifest_checkpoint_every=2)
    t.commit_append(_df(spark, [(1, "a"), (2, "b")]))
    t.rename_column("v", "label")
    for i in range(3, 7):
        t.commit_append(_df(spark, [(i, f"r{i}")], "k INT, label STRING"))
    assert len(_rows(t.read())) == 6
    t.create_branch("aud")
    b = t.branch("aud")
    b.commit_append(_df(spark, [(9, "z")], "k INT, label STRING"))
    assert _rows(b.read())[-1] == (9, "z")
    t.publish_branch("aud")
    assert (9, "z") in _rows(t.read())
