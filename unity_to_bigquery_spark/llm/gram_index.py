"""Persisted exact-substring GRAM INDEX with incremental CDC refresh —
the production form of Lee et al. 2022 exact-substring dedup
(llm/dedup.exact_substring_spans is the one-shot batch form).

Derived-state-over-VersionedTable pattern (the AnnIndex/PqIndex/
ContinuousAggregate family): the index stores one row per
(document, distinct 32-char-window hash) in a bucket-partitioned
VersionedTable, bookmarked to the source documents table via the
Delta txnAppId/txnVersion protocol. Protocol:

    gi = GramIndex(spark, root, source_docs)
    gi.build()                      # once, over the current snapshot
    gi.dup_report()                 # == batch exact_substring_spans
    ...source_docs.commit_append(new_batch)...
    gi.refresh()                    # cost ∝ appended docs ONLY
    gi.dup_against_history(decide)  # which NEW docs duplicate corpus

Why refresh is cheap: gram rows are IMMUTABLE facts about a document
(a (doc_id, gram) row never changes while the doc lives), so append
pages are a PURE APPEND of the delta's gram rows — no merge, no
rewrite of existing state files, unlike aggregated (gram → count)
state which would touch every hash-uniform file on every batch.
Delete/rewrite pages (round 8) retract by key: one atomic
commit_replace_keys drops the changed docs' gram rows merge-on-read
and appends the survivors' — cost ∝ the net delta. Dup counts are
aggregated AT SERVE TIME over the bucket-partitioned state; the
trade-off (write-optimal log vs read-time aggregation) is the LSM
choice every ingest-heavy dedup system makes, and compact() bounds
the file count between refreshes.

Scale (100 TB): window text never persists — state rows are
(doc_id, 16-byte-hash-hex, small ints), ~1/4 the corpus bytes at the
default k=32/stride=1 and ∝ 1/stride beyond; serving shuffles hash
keys (uniform, skew-free). Reference scope: corpus-prep dedup over
the documents table (SURVEY §2D), re-expressed Spark-first.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from unity_to_bigquery_spark.llm.derived_index import DerivedIndex
from unity_to_bigquery_spark.plans.versioned import VersionedTable


class GramIndex(DerivedIndex):
    _app = "gram-index"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        source: VersionedTable,
        k: int = 32,
        stride: int = 1,
        n_buckets: int = 16,
        id_col: str = "doc_id",
        text_col: str = "text",
        len_col: str = "n_chars",
    ):
        self.spark = spark
        self.source = source
        self.k = k
        self.stride = stride
        self.n_buckets = n_buckets
        self.id_col = id_col
        self.text_col = text_col
        self.len_col = len_col
        # bucket-partitioned: serve-time aggregation shuffles within
        # hash-range partitions; compact() keeps file count ∝ buckets
        self.state = VersionedTable(
            spark,
            os.path.join(root, "grams"),
            partition_col="bucket",
            distinct_index_cols=("bucket",),
        )
        self._tables = (self.state,)

    # ---- gram extraction -------------------------------------------------
    def _gram_rows(self, docs: DataFrame, v: int) -> DataFrame:
        """One row per (document, DISTINCT window hash): doc_id, gh,
        n_occ, bucket, src_version. The hash happens in the cutting
        projection — window text never reaches an exchange."""
        k, stride = self.k, self.stride
        # Repartition by doc BEFORE the window explode (CLAUDE.md rule
        # 5 / r13-opt): build/refresh inputs are often one or two
        # parquet files (the demo sources commit coalesce(1) for
        # positional determinism), so without this the md5-per-window
        # extraction — the index's dominant compute — runs on 1-2
        # cores. The exchange is a net WIN, not an extra one:
        # hash(doc_id) satisfies the groupBy(doc_id, gh) clustered
        # distribution (subset rule), so the post-explode aggregation
        # exchange disappears and the one shuffle left carries raw
        # text bytes instead of the wider exploded gram-row stream.
        n_part = int(
            self.spark.conf.get("spark.sql.shuffle.partitions")
        )
        grams = (
            docs.filter(F.col(self.len_col) >= k)
            .repartition(n_part, self.id_col)
            .select(
                self.id_col,
                self.text_col,
                F.explode(
                    F.sequence(F.lit(0), F.col(self.len_col) - k, F.lit(stride))
                ).alias("p"),
            )
            .select(
                self.id_col,
                F.md5(F.expr(f"substring({self.text_col}, p + 1, {k})")).alias("gh"),
            )
        )
        return (
            grams.groupBy(self.id_col, "gh")
            .agg(F.count("*").alias("n_occ"))
            .select(
                F.col(self.id_col),
                F.col("gh"),
                F.col("n_occ").cast("long"),
                F.expr(
                    f"CAST(conv(substring(gh, 1, 4), 16, 10) AS BIGINT) "
                    f"% {self.n_buckets}"
                ).alias("bucket"),
                F.lit(v).cast("long").alias("src_version"),
            )
        )

    def _state_rows(self, docs: DataFrame, v: int, model) -> tuple:
        # append pages stay a PURE APPEND: gram rows are immutable facts
        # about a document, so no existing state file is touched
        return (self._gram_rows(docs, v),)

    # ---- serving ---------------------------------------------------------
    def dup_report(self) -> DataFrame:
        """Per-document duplicated-span report over the WHOLE indexed
        corpus, computed from state alone (no re-hash of any text):
        identical output contract to llm/dedup.exact_substring_spans
        on the same corpus — (doc_id, n_grams, n_dup_grams,
        dup_frac_fp6). Grams are re-aggregated at serve time; a gram
        is duplicated when it appears in >1 document."""
        rows = self.state.read().select(self.id_col, "gh", "n_occ")
        shared = (
            rows.groupBy("gh")
            .agg(F.count("*").alias("nd"))
            .filter(F.col("nd") > 1)
            .select("gh")
        )
        per_doc = (
            rows.join(shared, "gh")
            .groupBy(self.id_col)
            .agg(F.sum("n_occ").alias("n_dup_grams"))
        )
        k, stride = self.k, self.stride
        docs = self.source.read(self.indexed_version()).select(
            self.id_col, self.len_col
        )
        n_windows = F.expr(
            f"CAST(({self.len_col} - {k}) DIV {stride} + 1 AS BIGINT)"
        )
        return docs.join(per_doc, self.id_col, "left").select(
            self.id_col,
            F.when(F.col(self.len_col) >= k, n_windows)
            .otherwise(0)
            .cast("long")
            .alias("n_grams"),
            F.coalesce(F.col("n_dup_grams"), F.lit(0)).cast("long").alias(
                "n_dup_grams"
            ),
            F.when(
                F.col(self.len_col) >= k,
                F.expr(
                    f"coalesce(n_dup_grams, 0) * 1000000 "
                    f"div (({self.len_col} - {k}) div {stride} + 1)"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("dup_frac_fp6"),
        )

    def dup_against_history(self, docs: DataFrame) -> DataFrame:
        """Admission-control serve: for CANDIDATE documents (not yet
        ingested), which windows already exist in the indexed corpus —
        (doc_id, n_grams, n_hist_dup_grams). The candidates' grams are
        hashed fresh (∝ candidate bytes) and joined against stored
        hashes; the historical corpus is never re-read or re-hashed."""
        cand = self._gram_rows(docs, 0).select(
            F.col(self.id_col).alias("__cand_id"), "gh", "n_occ"
        )
        hist = self.state.read().select("gh").distinct()
        hits = (
            cand.join(hist, "gh")
            .groupBy("__cand_id")
            .agg(F.sum("n_occ").alias("n_hist_dup_grams"))
        )
        k, stride = self.k, self.stride
        n_windows = F.expr(
            f"CAST(({self.len_col} - {k}) DIV {stride} + 1 AS BIGINT)"
        )
        return (
            docs.select(self.id_col, self.len_col)
            .join(hits, F.col(self.id_col) == F.col("__cand_id"), "left")
            .select(
                self.id_col,
                F.when(F.col(self.len_col) >= k, n_windows)
                .otherwise(0)
                .cast("long")
                .alias("n_grams"),
                F.coalesce(F.col("n_hist_dup_grams"), F.lit(0))
                .cast("long")
                .alias("n_hist_dup_grams"),
            )
        )

    # ---- maintenance -----------------------------------------------------
    def compact(self) -> None:
        """Fold refresh-accrued small files (one per touched bucket per
        page) back to ∝ buckets; content-identical rows, bookmark
        carried forward by the overwrite's txn map."""
        self.state.compact()
