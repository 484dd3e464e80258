"""Persisted gram index (llm/gram_index.GramIndex): incremental
refresh ≡ batch recompute, write-path append-only-ness, paging/
crash-resume idempotency, admission-control serving, retrain bypass,
and compaction invariance.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from unity_to_bigquery_spark.catalog import load_table
from unity_to_bigquery_spark.llm.dedup import exact_substring_spans
from unity_to_bigquery_spark.llm.gram_index import GramIndex
from unity_to_bigquery_spark.plans.versioned import VersionedTable


def _report(gi):
    return sorted(map(tuple, gi.dup_report().collect()))


def test_incremental_report_equals_batch_and_appends_only(spark, sf_dir, tmp_path):
    """THE differential: build on 90%, refresh over the appended 10%
    in single-commit pages — dup_report must equal the one-shot batch
    operator on the full corpus, and every refresh commit must be an
    APPEND (no state rewrite: gram rows are immutable facts)."""
    docs = load_table(spark, sf_dir, "documents")
    src = VersionedTable(spark, str(tmp_path / "docs"))
    src.commit_append(docs.filter(F.col("doc_id") % 10 != 0))
    gi = GramIndex(spark, str(tmp_path / "gi"), src)
    gi.build()
    built = gi.state.latest_version()
    files_after_build = set(gi.state.manifest()["files"])
    # append the held-out 10% as TWO commits to exercise paging
    src.commit_append(docs.filter(F.col("doc_id") % 20 == 0))
    src.commit_append(docs.filter(F.col("doc_id") % 20 == 10))
    # page the 2-commit backlog one commit at a time; this pins the
    # WRITE PATH shape of the last page's commit (an append), which a
    # later auto-compaction commit does not change
    gi.refresh(max_commits=1)
    m = gi.state.manifest(built + 2)
    assert m["op"] == "append"
    # build-time files still referenced untouched
    assert files_after_build <= set(m["files"])
    assert gi.indexed_version() == src.latest_version()

    got = _report(gi)
    want = sorted(map(tuple, exact_substring_spans(docs, k=32).collect()))
    assert got == want


def test_refresh_idempotent_paging_and_contracts(spark, sf_dir, tmp_path):
    """Replayed refresh pages are txn-no-ops (crash-between-pages
    resume); refresh before build and destructive source commits
    raise; a retrain at an already-bookmarked version must NOT be
    silently skipped (rule-17 bypass)."""
    docs = load_table(spark, sf_dir, "documents")
    src = VersionedTable(spark, str(tmp_path / "docs"))
    src.commit_append(docs.filter(F.col("doc_id") < 100))

    gi = GramIndex(spark, str(tmp_path / "gi"), src)
    with pytest.raises(ValueError, match="build"):
        gi.refresh()
    gi.build()
    v1 = gi.state.latest_version()

    src.commit_append(docs.filter(F.col("doc_id").between(100, 199)))
    gi.refresh()
    v2 = gi.state.latest_version()
    assert v2 == v1 + 1
    # replay: bookmarked — nothing committed
    gi.refresh()
    assert gi.state.latest_version() == v2
    baseline = _report(gi)

    # retrain at the same source version: must actually rewrite
    gi.build()
    assert gi.state.latest_version() == v2 + 1
    assert gi.state.manifest()["op"] == "overwrite"
    assert _report(gi) == baseline  # content-identical rebuild
    assert gi.indexed_version() == src.latest_version()

    # destructive source history now FOLDS into refresh (round 8): the
    # deleted docs' gram rows retract and the report matches a batch
    # recompute over the live snapshot
    src.commit_delete_where(
        src.read().filter("doc_id < 10").select("doc_id"), "doc_id"
    )
    gi.refresh()
    assert gi.indexed_version() == src.latest_version()
    assert _report(gi) == sorted(
        map(tuple, exact_substring_spans(src.read(), k=32).collect())
    )
    assert gi.state.read().filter("doc_id < 10").count() == 0

    with pytest.raises(ValueError, match="max_commits"):
        gi.refresh(max_commits=0)


def test_dup_against_history_and_compact(spark, sf_dir, tmp_path):
    """Admission control: candidate documents that REPLICATE indexed
    text score ~100% historical hits, fresh text scores 0; compact()
    folds files without changing either serve path."""
    docs = load_table(spark, sf_dir, "documents")
    src = VersionedTable(spark, str(tmp_path / "docs"))
    src.commit_append(docs.filter(F.col("doc_id") % 10 != 0))
    gi = GramIndex(spark, str(tmp_path / "gi"), src)
    gi.build()
    src.commit_append(docs.filter(F.col("doc_id") % 10 == 0))
    gi.refresh(max_commits=1)

    # clones of ingested docs -> every window hits history
    clones = (
        docs.filter(F.col("doc_id") < 3)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .select("doc_id", "text", "n_chars")
    )
    # fresh synthetic docs (digit soup not in the corpus vocabulary)
    fresh = spark.createDataFrame(
        [(2_000_000 + i, "9876543210" * 8, 80) for i in range(3)],
        "doc_id long, text string, n_chars long",
    )
    got = {
        r.doc_id: (r.n_grams, r.n_hist_dup_grams)
        for r in gi.dup_against_history(clones.unionByName(fresh)).collect()
    }
    for i in range(3):
        n_grams, hits = got[1_000_000 + i]
        assert n_grams > 0 and hits == n_grams  # full replication
    for i in range(3):
        n_grams, hits = got[2_000_000 + i]
        assert n_grams == 49 and hits == 0  # genuinely new text

    before_report = _report(gi)
    before_hist = sorted(got.items())
    nfiles_before = len(gi.state.manifest()["files"])
    gi.compact()
    assert len(gi.state.manifest()["files"]) <= nfiles_before
    assert _report(gi) == before_report
    after = {
        r.doc_id: (r.n_grams, r.n_hist_dup_grams)
        for r in gi.dup_against_history(clones.unionByName(fresh)).collect()
    }
    assert sorted(after.items()) == before_hist
    # bookmark survives compaction
    assert gi.indexed_version() == src.latest_version()


def test_streaming_gram_maintenance_equals_batch(spark, sf_dir, tmp_path):
    """ann_index_ingest_sink is contract-generic: draining a document
    stream through it leaves the GRAM INDEX at the stream head with
    dup_report equal to the one-shot batch operator over everything
    ingested; a second drain (no new data) is a txn no-op."""
    from unity_to_bigquery_spark.streaming.stream import ann_index_ingest_sink

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    rows = docs.collect()
    landing = str(tmp_path / "landing")
    for lo, hi in ((0, 200), (200, 350), (350, 500)):
        spark.createDataFrame(rows[lo:hi], docs.schema).coalesce(1).write.mode(
            "append"
        ).json(landing)

    src = VersionedTable(spark, str(tmp_path / "source"))
    gi = GramIndex(spark, str(tmp_path / "gi"), src)

    def drain():
        q = (
            spark.readStream.schema("doc_id BIGINT, text STRING, n_chars BIGINT")
            .option("maxFilesPerTrigger", "1")
            .json(landing)
            .writeStream.foreachBatch(ann_index_ingest_sink(gi, "gram-ingest"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert gi.indexed_version() == src.latest_version() >= 2
    assert src.read().count() == 500

    got = _report(gi)
    want = sorted(map(tuple, exact_substring_spans(docs, k=32).collect()))
    assert got == want

    v0, n0 = gi.indexed_version(), gi.state.read().count()
    drain()  # replay: nothing new
    assert gi.indexed_version() == v0 and gi.state.read().count() == n0


def test_auto_compact_bounds_files_over_many_refreshes(spark, tmp_path):
    """VERDICT r7 #4: 20 refresh pages (appends + interleaved deletes)
    with the default auto_compact policy keep the state's file count
    bounded (∝ buckets, not refresh count) and its merge-on-read
    delete debt bounded — and serving stays exactly the batch
    recompute of the live corpus."""
    src = VersionedTable(spark, str(tmp_path / "docs"))

    def batch(lo, hi):
        rows = []
        for i in range(lo, hi):
            text = "shared prefix block of text " * 2 + f"tail {i:06d}"
            rows.append((i, text, len(text)))
        return spark.createDataFrame(rows, "doc_id BIGINT, text STRING, n_chars INT")

    src.commit_append(batch(0, 40))
    gi = GramIndex(spark, str(tmp_path / "gi"), src, n_buckets=4)
    gi.build()
    bound = 4 * gi.n_buckets  # auto_compact's max_files_per_partition
    for i in range(20):
        if i % 5 == 4:  # every 5th round retracts a block
            src.commit_delete_where(
                spark.range(i * 2, i * 2 + 2).select(
                    F.col("id").alias("doc_id")
                ),
                "doc_id",
            )
        else:
            src.commit_append(batch(100 + i * 10, 100 + i * 10 + 10))
        gi.refresh()
        m = gi.state.manifest()
        assert len(m["files"]) <= bound, f"round {i}: {len(m['files'])} files"
        assert len(m.get("deletes", [])) <= 8
    got = _report(gi)
    want = sorted(map(tuple, exact_substring_spans(src.read(), k=32).collect()))
    assert got == want
