"""Persisted MinHash-LSH BUCKET INDEX with incremental CDC refresh —
the near-dup counterpart to the exact-substring GramIndex
(llm/gram_index.py), completing the derived-state dedup pair every
production crawl pipeline runs: EXACT spans via gram hashes, NEAR
duplicates via banded MinHash, both built once and maintained by
append.

State: one row per (document, band) — the band's bucket key, computed
with the identical md5-seeded universal-hash math as the one-shot
batch operator (llm/dedup.minhash_lsh_pairs_df), stored in a
band-partitioned VersionedTable bookmarked to the source documents
table. Band keys are immutable facts about a document, so refresh is
a PURE APPEND of the delta's rows (no state rewrite — the same
write-optimality argument as GramIndex).

Serving recomputes NOTHING corpus-wide: candidate pairs come from a
bucket self-join over the stored keys, and the exact-Jaccard verify
re-shingles ONLY the candidate documents (cost ∝ candidates, fetched
from the source snapshot by id). ``dup_pairs()`` therefore reproduces
the batch operator's output exactly — which is what lets the DuckDB
oracle of ``d_minhash_lsh_df`` hash-verify the whole
build+refresh+serve composition (p_lsh_index_pairs).

Implements the build/refresh/indexed_version/source contract, so
``streaming.stream.ann_index_ingest_sink`` maintains this index from
a document stream unchanged.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from unity_to_bigquery_spark.llm.dedup import (
    MINHASH_P,
    jaccard6,
    minhash_affine,
    with_shingles,
)
from unity_to_bigquery_spark.llm.derived_index import DerivedIndex
from unity_to_bigquery_spark.plans.versioned import VersionedTable


class LshIndex(DerivedIndex):
    _app = "lsh-index"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        source: VersionedTable,
        k: int = 16,
        bands: int = 4,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        if k % bands:
            raise ValueError(f"k={k} must divide into bands={bands}")
        self.spark = spark
        self.source = source
        self.k = k
        self.bands = bands
        self.id_col = id_col
        self.text_col = text_col
        self.buckets = VersionedTable(
            spark,
            os.path.join(root, "buckets"),
            partition_col="band",
            distinct_index_cols=("band",),
        )
        self._tables = (self.buckets,)

    # ---- band-key extraction ---------------------------------------------
    def _band_rows(self, docs: DataFrame, v: int) -> DataFrame:
        """(doc_id, band, key, src_version): identical hash math to
        minhash_lsh_pairs_df — md5 shingle hash, k affine min
        aggregates, banded md5 keys — so stored buckets reproduce the
        batch operator's candidate generation bit-for-bit."""
        r = self.k // self.bands
        sh = (
            with_shingles(docs, self.text_col)
            .select(self.id_col, "sh")
            .filter(F.size("sh") > 0)
            .select(self.id_col, F.explode("sh").alias("s"))
        )
        h0 = F.conv(F.substring(F.md5("s"), 1, 15), 16, 10).cast("long") % MINHASH_P
        rows = sh.select(self.id_col, h0.alias("h0"))
        mins = []
        for i in range(self.k):
            a_i, b_i = minhash_affine(i)
            mins.append(F.min((F.col("h0") * a_i + b_i) % MINHASH_P).alias(f"mh{i}"))
        sig = rows.groupBy(self.id_col).agg(*mins)
        band_keys = [
            F.md5(
                F.concat_ws(
                    ",",
                    *[F.col(f"mh{bd * r + j}").cast("string") for j in range(r)],
                )
            )
            for bd in range(self.bands)
        ]
        return sig.select(
            F.col(self.id_col),
            F.posexplode(F.array(*band_keys)).alias("band", "key"),
        ).select(
            self.id_col,
            "band",
            "key",
            F.lit(v).cast("long").alias("src_version"),
        )

    def _state_rows(self, docs: DataFrame, v: int, model) -> tuple:
        return (self._band_rows(docs, v),)

    # ---- serving ---------------------------------------------------------
    def _verify(self, cand: DataFrame, docs: DataFrame) -> DataFrame:
        """Exact-Jaccard verify for candidate pairs: re-shingle ONLY
        the documents that appear in a candidate pair."""
        involved = (
            cand.select(F.col("id_a").alias(self.id_col))
            .union(cand.select(F.col("id_b")))
            .distinct()
        )
        sh = (
            with_shingles(docs.join(involved, self.id_col), self.text_col)
            .select(self.id_col, "sh")
        )
        sa = sh.select(F.col(self.id_col).alias("id_a"), F.col("sh").alias("sh_a"))
        sb = sh.select(F.col(self.id_col).alias("id_b"), F.col("sh").alias("sh_b"))
        return (
            cand.join(sa, "id_a")
            .join(sb, "id_b")
            .select(
                "id_a", "id_b", jaccard6(F.col("sh_a"), F.col("sh_b")).alias("jaccard6")
            )
        )

    def dup_pairs(self) -> DataFrame:
        """Near-dup pairs over the whole indexed corpus FROM STATE:
        bucket self-join for candidates (shuffle keyed by band/key —
        uniform), then candidate-only Jaccard against the indexed
        snapshot. Output contract identical to
        llm/dedup.minhash_lsh_pairs_df on the same corpus."""
        bk = self.buckets.read().select(self.id_col, "band", "key")
        a, b = bk.alias("a"), bk.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col(f"a.{self.id_col}") < F.col(f"b.{self.id_col}")),
            )
            .select(
                F.col(f"a.{self.id_col}").alias("id_a"),
                F.col(f"b.{self.id_col}").alias("id_b"),
            )
            .distinct()
        )
        docs = self.source.read(self.indexed_version())
        return self._verify(cand, docs)

    def neardup_against_history(self, docs: DataFrame) -> DataFrame:
        """Admission control: for CANDIDATE documents (not ingested),
        which indexed documents they near-duplicate — band-key the
        candidates (∝ candidate bytes), probe the stored buckets,
        verify only the hits. Returns (cand_id, hist_id, jaccard6)."""
        cand_bk = self._band_rows(docs, 0).select(
            F.col(self.id_col).alias("cand_id"), "band", "key"
        )
        hist_bk = self.buckets.read().select(
            F.col(self.id_col).alias("hist_id"), "band", "key"
        )
        hits = (
            cand_bk.join(hist_bk, ["band", "key"])
            .select("cand_id", "hist_id")
            .distinct()
        )
        # verify against a union frame carrying both populations; the
        # candidate ids must not collide with history ids
        pairs = hits.select(
            F.col("cand_id").alias("id_a"), F.col("hist_id").alias("id_b")
        )
        both = docs.select(self.id_col, self.text_col).unionByName(
            self.source.read(self.indexed_version()).select(
                self.id_col, self.text_col
            )
        )
        out = self._verify(pairs, both)
        return out.select(
            F.col("id_a").alias("cand_id"),
            F.col("id_b").alias("hist_id"),
            "jaccard6",
        )

    # ---- maintenance -----------------------------------------------------
    def compact(self) -> None:
        """Fold refresh-accrued small files back to ∝ bands."""
        self.buckets.compact()
