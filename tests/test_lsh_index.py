"""Persisted MinHash-LSH index (llm/lsh_index.LshIndex): incremental
serve ≡ batch operator, pure-append refresh, replay idempotency,
append-only contract, and near-dup admission control.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from unity_to_bigquery_spark.catalog import load_table
from unity_to_bigquery_spark.llm.dedup import minhash_lsh_pairs_df
from unity_to_bigquery_spark.llm.lsh_index import LshIndex
from unity_to_bigquery_spark.plans.versioned import VersionedTable


def test_lsh_index_serve_equals_batch_and_contracts(spark, sf_dir, tmp_path):
    """THE differential: build on 90%, refresh the appended 10% in
    single-commit pages — dup_pairs must equal the one-shot batch
    operator on the full corpus; refresh commits are pure appends;
    replayed refresh is a txn no-op; destructive source history is
    rejected; clones are flagged against history with Jaccard 1.0."""
    docs = load_table(spark, sf_dir, "documents")
    src = VersionedTable(spark, str(tmp_path / "docs"))
    src.commit_append(docs.filter(F.col("doc_id") % 10 != 0))
    li = LshIndex(spark, str(tmp_path / "lsh"), src)
    with pytest.raises(ValueError, match="LshIndex.refresh: build"):
        li.refresh()
    li.build()
    files_after_build = set(li.buckets.manifest()["files"])

    src.commit_append(docs.filter(F.col("doc_id") % 20 == 0))
    src.commit_append(docs.filter(F.col("doc_id") % 20 == 10))
    li.refresh(max_commits=1)  # paged backlog
    m = li.buckets.manifest()
    assert m["op"] == "append"
    assert files_after_build <= set(m["files"])  # no state rewrite
    assert li.indexed_version() == src.latest_version()

    got = sorted(map(tuple, li.dup_pairs().collect()))
    want = sorted(map(tuple, minhash_lsh_pairs_df(docs).collect()))
    assert got == want

    # replay: bookmarked — nothing committed
    v0, n0 = li.buckets.latest_version(), li.buckets.read().count()
    li.refresh()
    assert li.buckets.latest_version() == v0
    assert li.buckets.read().count() == n0

    # admission control: a clone of an ingested doc scores 1.0
    clone = (
        docs.filter(F.col("doc_id") == 1)
        .withColumn("doc_id", F.lit(999_999).cast("long"))
        .select("doc_id", "text", "n_chars")
    )
    hits = {
        (r.cand_id, r.hist_id): r.jaccard6
        for r in li.neardup_against_history(clone).collect()
    }
    assert hits[(999_999, 1)] == 1_000_000

    # destructive source history now FOLDS into refresh (round 8):
    # the deleted docs' bucket rows retract and served pairs match a
    # fresh rebuild over the live snapshot
    src.commit_delete_where(
        src.read().filter("doc_id < 5").select("doc_id"), "doc_id"
    )
    before = li.buckets.latest_version()
    li.refresh()
    assert li.indexed_version() == src.latest_version()
    # the delete page is ONE key-scoped replace commit, not an append
    assert li.buckets.manifest(before + 1)["op"] == "replace_keys"
    assert li.buckets.read().filter("doc_id < 5").count() == 0
    served = sorted(map(tuple, li.dup_pairs().collect()))
    li2 = LshIndex(spark, str(tmp_path / "rebuilt"), src)
    li2.build()
    assert served == sorted(map(tuple, li2.dup_pairs().collect()))

    with pytest.raises(ValueError, match="divide"):
        LshIndex(spark, str(tmp_path / "bad"), src, k=16, bands=5)
