"""Persisted BM25 RANKED-RETRIEVAL index with incremental CDC refresh —
the derived-state family member keyword search was missing (VERDICT r12
#3): ``t_bm25_topk`` re-scans the corpus per query; at 100 TB you build
the postings ONCE and refresh ∝ delta.

Derived-state-over-VersionedTable pattern (GramIndex/AnnIndex/
ContinuousAggregate family):

    ix = BM25Index(spark, root, source_docs)
    ix.build()                    # once, over the current snapshot
    ix.topk(["hash", "join"])     # == bm25_topk on the same corpus
    ...source_docs.commit_append(batch)...
    ix.refresh()                  # cost ∝ appended docs ONLY
    ...source_docs.delete_where(...)...
    ix.refresh()                  # retraction-aware, ∝ the net delta

Three pieces of state, each exactly-once bookmarked via the
txnAppId/txnVersion protocol:

- ``postings`` — one row per (doc, distinct term): (term, doc_id, tf,
  dl, bucket), bucket-partitioned by a term hash. Posting rows are
  IMMUTABLE facts about a live document (same argument as GramIndex
  gram rows), so append pages are a PURE APPEND of the delta's
  postings; delete/rewrite pages fold ``changes_final_state`` into ONE
  atomic ``commit_replace_keys`` keyed on doc_id (stale postings die
  merge-on-read). No existing state file is rewritten on append.
- ``docstats`` — one row per doc: (doc_id, dl_d, grp, bucket) — the
  doc-length relation, maintained with the same protocol.
- two ContinuousAggregates, maintained INCREMENTALLY from the state
  tables' own CDC (the two-level-IVM shape of p_ivm_pipeline):
  ``term_stats`` (key=term over postings: n == document frequency df —
  this is "df/idf maintained incrementally": a refresh folds only the
  delta's signed postings, never rescans the vocabulary) and
  ``corpus_stats`` (constant key over docstats: n == N_docs,
  sum_dl == Σ dl as an exact fp6 long).

Serving ``topk(terms)`` touches: the query terms' BUCKET files only
(driver-side bucket recompute + manifest distinct-stat pruning — scan
∝ corpus/n_buckets × distinct query buckets, not the corpus), the
vocabulary-sized term_stats filtered to the query terms (broadcast),
and the 1-row corpus_stats — then scores through the SAME expression
tree as the one-shot ``bm25_topk`` (``retrieval.bm25_score_topk``), so
results on an equal corpus are bit-identical.

Scale notes (100 TB): state bytes ≈ one (term, id, 3 ints) row per
distinct (doc, term) — the classic positional-free impact index;
n_buckets sizes the serve scan unit (use 4k+ at corpus scale). The
corpus_stats fp6 sum overflows past Σdl ≈ 9e12 tokens — swap the
measure to a plain long fold before indexing a full 100-TB corpus in
ONE index (shard by corpus partition, the standard move).
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from unity_to_bigquery_spark.plans.incremental_agg import ContinuousAggregate
from unity_to_bigquery_spark.llm.derived_index import DerivedIndex
from unity_to_bigquery_spark.plans.versioned import VersionedTable


class BM25Index(DerivedIndex):
    _app = "bm25-index"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        source: VersionedTable,
        n_buckets: int = 16,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        self.spark = spark
        self.source = source
        self.n_buckets = n_buckets
        self.id_col = id_col
        self.text_col = text_col
        self.postings = VersionedTable(
            spark,
            os.path.join(root, "postings"),
            partition_col="bucket",
            distinct_index_cols=("bucket",),
        )
        self.docstats = VersionedTable(spark, os.path.join(root, "docstats"))
        self._tables = (self.postings, self.docstats)
        self.term_stats = ContinuousAggregate(
            spark,
            self.postings,
            os.path.join(root, "term_stats"),
            key="term",
            measures={},
            handle_deletes=True,
        )
        self.corpus_stats = ContinuousAggregate(
            spark,
            self.docstats,
            os.path.join(root, "corpus_stats"),
            key="grp",
            measures={"sum_dl": "dl_d"},
            handle_deletes=True,
        )

    def _bucket_py(self, term: str) -> int:
        return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:4], 16) % self.n_buckets

    # ---- extraction --------------------------------------------------------
    def _posting_rows(self, docs: DataFrame) -> DataFrame:
        """(term, doc_id, tf, dl, bucket) — the EXACT tokenizer and
        grouping of retrieval.postings (whitespace split, dl carried in
        the key), plus the serve-pruning bucket. The bucket expression
        is the Spark twin of ``_bucket_py`` (md5 prefix, base-16)."""
        ws = F.split(F.col(self.text_col), " ")
        ex = docs.select(
            F.col(self.id_col), F.size(ws).alias("dl"), F.explode(ws).alias("term")
        )
        return (
            ex.groupBy(self.id_col, "dl", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            .select(
                "term",
                self.id_col,
                F.col("tf").cast("long"),
                F.col("dl").cast("long"),
                F.expr(
                    f"CAST(conv(substring(md5(term), 1, 4), 16, 10) AS BIGINT) "
                    f"% {self.n_buckets}"
                ).alias("bucket"),
            )
        )

    def _docstat_rows(self, docs: DataFrame) -> DataFrame:
        return docs.select(
            F.col(self.id_col),
            F.size(F.split(F.col(self.text_col), " "))
            .cast("double")
            .alias("dl_d"),
            F.lit("all").alias("grp"),
        )

    def _state_rows(self, docs: DataFrame, v: int, model) -> tuple:
        return self._posting_rows(docs), self._docstat_rows(docs)

    def _fold_rollups(self) -> None:
        """The rollups fold the state tables' OWN change feeds: term df
        moves only for terms the delta touched."""
        self.term_stats.refresh()
        self.corpus_stats.refresh()

    # ---- serving ---------------------------------------------------------
    def topk(
        self,
        terms: Sequence[str],
        k: int = 10,
        k1: float = 1.2,
        b: float = 0.75,
    ) -> DataFrame:
        """BM25 top-k over the indexed corpus — identical output
        contract (and bit-identical scores on an equal corpus) to
        ``retrieval.bm25_topk``: (id, bm25_6, n_terms_hit) with the
        doc-id tiebreak. Reads ONLY the query terms' bucket files."""
        from unity_to_bigquery_spark.llm.retrieval import bm25_score_topk

        terms = list(terms)
        buckets = sorted({self._bucket_py(t) for t in terms})
        m = self.postings.manifest()
        files, _ = self.postings._prune_eq(m, "bucket", buckets)
        qp = (
            self.postings._scan_live(m, files)
            .filter(F.col("term").isin(terms))
            .select(self.id_col, "dl", "term", "tf")
        )
        dfs = (
            self.term_stats.read()
            .filter(F.col("term").isin(terms))
            .select("term", F.col("n").alias("df"))
        )
        stats = self.corpus_stats.read().select(
            F.col("n").alias("n_docs"),
            F.expr("CAST(sum_dl DIV 1000000 AS BIGINT)").alias("sum_dl"),
        )
        return bm25_score_topk(qp, dfs, stats, k=k, k1=k1, b=b, id_col=self.id_col)

    def term_df(self, terms: Sequence[str]) -> DataFrame:
        """(term, df) from the incrementally-maintained rollup."""
        return (
            self.term_stats.read()
            .filter(F.col("term").isin(list(terms)))
            .select("term", F.col("n").cast("long").alias("df"))
        )

    # ---- maintenance -----------------------------------------------------
    def compact(self) -> None:
        self.postings.compact()
        self.docstats.compact()
