"""Persisted ANN index with incremental refresh — the amortization
layer over llm/similarity.py's IVF machinery (VERDICT r6 #1).

Every ``sim_*`` query so far TRAINS its index in-query; a production
pipeline builds the index ONCE, serves many top-k queries from it, and
refreshes it incrementally as the corpus grows. :class:`AnnIndex`
composes the engine's existing pieces to do exactly that:

- **storage**: two :class:`~unity_to_bigquery_spark.plans.versioned.
  VersionedTable`\\ s under one root — ``centroids`` (cell_id +
  centroid vector; always broadcast-sized) and ``assignments``
  (vec_id, cell_id, sim6, src_version, + the vector itself), the
  FAISS inverted-list layout on a lakehouse table: DENORMALIZED and
  cell-partitioned so serving never joins back to the source and the
  manifest's per-file stats prune the scan to the probed cells.
- **build** (:meth:`build`): seeded k-means over the source snapshot
  (``kmeans_centroids`` — bounded hash-mod sample), whole-corpus
  assignment via the codegen position-join scorer (``ivf_best_cells``),
  one ``commit_overwrite`` per table. The assignments commit carries a
  Delta-style txn bookmark ``(app, source_version)`` — the index
  REMEMBERS which source version it reflects.
- **refresh** (:meth:`refresh`): assigns ONLY the vectors appended
  since the bookmark, read through the manifest-log CDC
  (``source.changes`` — an explicit added-file scan, never a rescan),
  folded in one atomic idempotent ``merge_upsert`` per page (same
  paging protocol as ``plans/incremental_agg.ContinuousAggregate``:
  backlogs longer than CDC_MAX_COMMITS page, each page crash-resumable
  from its own txn). Refresh cost is proportional to the DELTA
  (|new vectors| × C scoring + touched-file rewrite), independent of
  corpus size — measured in BASELINE.md §ann-index.
- **serve** (:meth:`topk`): probe cells for the query batch against
  the broadcast centroid table, prune the assignments scan to the
  probed cells (bounded ``|Q| × nprobe`` cell-id collect, then
  manifest-stats file skipping), and run the SAME
  ``similarity.ivf_search`` probe plan the in-query path uses — which
  is what makes index-served ≡ in-query-trained an exact identity
  under equal centroids (tests/test_ann_index.py pins it).
- **drift** (:meth:`drift_stats` / :meth:`should_retrain`): every
  stored assignment carries ``sim6`` (cosine to its centroid) and the
  refresh epoch that wrote it, so "do the centroids still fit the
  data?" is one aggregate over the index itself: retrain when the
  newest epoch's mean assignment quality falls ``drop6`` below the
  build epoch's. Retraining is :meth:`build` again — deterministic,
  atomic per table, and the txns map keeps refresh exactly-once
  across it.

Scale notes (100 TB):
- C = √N cells by default: flat assignment is O(N·√C·dim)
  position-join rows (see ``ivf_best_cells``); at 1e9+ vectors pass
  ``scorer="ivf2"`` (round 8, VERDICT r7 #3) — assignment and query
  probing then DESCEND a stored two-level structure (√C coarse
  centroids over the fine centroids, the fine→coarse map denormalized
  into the centroids table) for O(√C) per-vector work. The
  storage/refresh/serve protocol is scorer-agnostic: same tables, same
  CDC refresh (retractions included), and index-served ivf2 ≡ the
  in-query ``ivf2_topk`` exactly under equal training (measured: the
  10×-corpus refresh GROWTH drops 2.38×→1.80× = √(C ratio);
  BASELINE §ann-index).
- Serving reads ≈ nprobe/C of the corpus thanks to cell-clustered
  files; the per-query-batch driver work is one centroid-table probe
  (centroid-sized) and one bounded cell-id collect.
- DELETES (round 8 — retraction-aware refresh, VERDICT r7 #1): pages
  containing delete/rewrite commits fold the NET per-key effect of the
  typed change feed (``changes_final_state``: equality deletes,
  positional deletes, merge updates, overwrites) into one atomic
  ``commit_replace_keys`` per page — stale assignment rows for changed
  keys die merge-on-read, removed keys get no replacement, and a
  GDPR-style source delete costs ∝ the delta instead of a full
  rebuild. Pure-append pages keep the cheaper merge path. Since round
  9 every commit shape is expressible — a restore reviving pos-deleted
  rows in place emits the revived ordinals as full-row inserts.

Reference parity: the reference pipeline has no ANN at all
(Unity_to_BigQuery.py is 216 LoC of sequential export ETL); this is
north-star LLM-pipeline capability per the build brief.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from unity_to_bigquery_spark.llm.similarity import (
    cosine6,
    ivf2_descend,
    ivf2_fine_vecs,
    ivf2_train,
    ivf_best_cells,
    ivf_rank_candidates,
    kmeans_centroids,
    pq_adc_search,
    pq_codebooks,
    pq_encode,
    unit_vectors,
)
from unity_to_bigquery_spark.llm.derived_index import DerivedIndex
from unity_to_bigquery_spark.plans.versioned import VersionedTable

def _vec_dim(df: DataFrame, vec_col: str) -> int:
    """Vector dimension, probed from the first row of ``df``."""
    return df.select(F.size(vec_col).alias("d")).first()["d"]


def _unit(vecs: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, L2-normalized vector) — what the PQ codebooks quantize."""
    return unit_vectors(vecs, id_col, vec_col).select(
        id_col, F.col("__unit").alias(vec_col)
    )


def _train_codebooks(idx, snap: DataFrame) -> DataFrame:
    """Train per-subspace PQ codebooks on the build snapshot (bounded
    hash-mod sample, driver-side Lloyd) and commit them; returns them."""
    books = pq_codebooks(
        _unit(snap, idx.id_col, idx.vec_col), m=idx.m, ksub=idx.ksub,
        id_col=idx.id_col, vec_col=idx.vec_col, seed=idx.seed,
    )
    idx.codebooks.commit_overwrite(books)
    return books


class _CellCentroids(DerivedIndex):
    """Cell-centroid state shared by the cell-partitioned indexes
    (:class:`AnnIndex`, :class:`IvfPqIndex`): both store fine centroids
    in ``self.centroids`` and, under ``scorer="ivf2"``, coarse ones in
    ``self.coarse``. ``scorer="ivf2"`` (round 8, VERDICT r7 #3):
    assignment and query probing DESCEND a stored two-level structure —
    √C coarse centroids over the fine centroids — so per-vector scoring
    is O(C₂ + wprobe·C/C₂) = O(√C) instead of O(C); the fine→coarse map
    is denormalized into the centroids table and the coarse centroids
    live in a third (broadcast-sized) VersionedTable."""

    _vector = True

    def __init__(self, spark, root, source, id_col, vec_col, ncells, seed,
                 scorer, wprobe):
        if scorer not in ("flat", "ivf2"):
            raise ValueError(f"scorer must be 'flat' or 'ivf2', got {scorer!r}")
        self.spark = spark
        self.source = source
        self.id_col = id_col
        self.vec_col = vec_col
        self.ncells = ncells
        self.seed = seed
        self.scorer = scorer
        self.wprobe = wprobe
        self.centroids = VersionedTable(spark, os.path.join(root, "centroids"))
        self.coarse = VersionedTable(spark, os.path.join(root, "coarse"))

    def _train_cells(self, snap: DataFrame) -> None:
        """Train the cell centroids on the build snapshot — seeded
        k-means with C = √N cells by default, or under ivf2 the
        two-level structure — and commit them."""
        n = snap.count()
        if self.scorer == "ivf2":
            fine, coarse, f2c = ivf2_train(
                snap, ncells=self.ncells, id_col=self.id_col,
                vec_col=self.vec_col, seed=self.seed, corpus_count=n,
            )
            self.centroids.commit_overwrite(
                fine.join(F.broadcast(f2c), "fine_id").select(
                    F.col("fine_id").alias("cell_id"),
                    F.col(self.vec_col).alias("centroid"),
                    F.col("coarse_id"),
                )
            )
            self.coarse.commit_overwrite(
                coarse.select(
                    "coarse_id", F.col(self.vec_col).alias("centroid")
                )
            )
        else:
            ncells = self.ncells or max(16, int(n**0.5))
            cents = kmeans_centroids(
                snap, ncells, id_col=self.id_col, vec_col=self.vec_col,
                seed=self.seed, corpus_count=n,
            )
            self.centroids.commit_overwrite(
                cents.select(
                    F.col(self.id_col).alias("cell_id"),
                    F.col(self.vec_col).alias("centroid"),
                )
            )

    def _best_cells(self, vecs: DataFrame, st: dict) -> DataFrame:
        """(id, cell_id, sim6) under the configured scorer: flat O(C)
        position-join or the O(√C) two-level descent — the ONLY point
        where the scorers diverge; storage/refresh/serve are agnostic."""
        if self.scorer == "flat":
            return ivf_best_cells(
                vecs, st["cents"], self.id_col, self.vec_col, nassign=1
            )
        return ivf2_descend(
            vecs, st["coarse"], st["fine_vecs"], self.wprobe, 1,
            self.id_col, self.vec_col,
        ).select(self.id_col, "cell_id", "sim6")

    def centroid_frame(self) -> DataFrame:
        """Stored centroids in the (id_col, vec_col) shape the
        similarity kernels consume."""
        return self.centroids.read().select(
            F.col("cell_id").alias(self.id_col),
            F.col("centroid").alias(self.vec_col),
        )

    def _scorer_state(self) -> dict:
        """The stored centroid structures the assignment scorer reads —
        resolved ONCE per refresh/serve (flat: the fine centroid frame;
        ivf2: + coarse centroids and the fine→coarse broadcast map)."""
        st = {"cents": self.centroid_frame()}
        if self.scorer == "ivf2":
            st["coarse"] = self.coarse.read().select(
                "coarse_id", F.col("centroid").alias(self.vec_col)
            )
            fine = self.centroids.read().select(
                F.col("cell_id").alias("fine_id"),
                F.col("centroid").alias(self.vec_col),
            )
            f2c = self.centroids.read().select(
                F.col("cell_id").alias("fine_id"), "coarse_id"
            )
            st["fine_vecs"] = ivf2_fine_vecs(fine, f2c, self.vec_col)
        return st


class AnnIndex(_CellCentroids):
    """Persisted IVF index over an append-only VersionedTable of
    embeddings. See module docstring for the protocol; the short form:

        idx = AnnIndex(spark, root, source)
        idx.build()                  # once
        idx.topk(queries, k=5)       # many
        ...source.commit_append(new_vectors)...
        idx.refresh()                # cost ∝ appended vectors
        if idx.should_retrain(): idx.build()
    """

    _app = "ann-index"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        source: VersionedTable,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        ncells: int | None = None,
        seed: int = 7,
        meta_cols: tuple = (),
        scorer: str = "flat",
        wprobe: int = 3,
    ):
        super().__init__(
            spark, root, source, id_col, vec_col, ncells, seed, scorer, wprobe
        )
        # metadata columns DENORMALIZED into the cell-partitioned
        # assignments at build/refresh time: filtered serving pushes
        # its predicate into the probed-cell scan instead of joining
        # back to the source (at 100 TB the join would re-shuffle the
        # corpus; a stored column is a pushed-down parquet filter)
        self.meta_cols = tuple(meta_cols)
        # cell-partitioned + distinct-set-indexed: probed-cell serving
        # skips whole files via the manifest, no data IO for cold cells
        self.assignments = VersionedTable(
            spark,
            os.path.join(root, "assignments"),
            partition_col="cell_id",
            distinct_index_cols=("cell_id",),
        )
        self._tables = (self.assignments,)

    def _train(self, snap: DataFrame) -> dict:
        self._train_cells(snap)
        return self._scorer_state()

    def _model(self) -> dict:
        return self._scorer_state()

    def _state_rows(self, vecs: DataFrame, v: int, st: dict) -> tuple:
        best = self._best_cells(vecs, st)
        return (
            vecs.select(self.id_col, self.vec_col, *self.meta_cols)
            .join(best, on=self.id_col)
            .select(
                F.col(self.id_col),
                F.col("cell_id"),
                F.col("sim6"),
                F.lit(v).cast("long").alias("src_version"),
                F.col(self.vec_col),
                *[F.col(c) for c in self.meta_cols],
            ),
        )

    # ---- serving ---------------------------------------------------------
    def _probe_plan(
        self, queries: DataFrame, st: dict, nprobe: int, query_id: str
    ) -> DataFrame:
        """The distributed probe plan (query_id, __qvec, cell_id) —
        one row per (query, probed cell). Shared by the serving path
        (which bounds and materializes it) and the bulk path (which
        keeps it distributed)."""
        if self.scorer == "ivf2":
            # queries DESCEND the stored two-level structure — O(√C)
            # probe planning, same plan as the in-query ivf2_topk
            return ivf2_descend(
                queries, st["coarse"], st["fine_vecs"], self.wprobe, nprobe,
                self.id_col, self.vec_col,
            ).select(
                F.col(self.id_col).alias(query_id),
                F.col(self.vec_col).alias("__qvec"),
                "cell_id",
            )
        cents = st["cents"]
        q = queries.select(
            F.col(self.id_col).alias(query_id),
            F.col(self.vec_col).alias("__qvec"),
        )
        c = cents.select(
            F.col(self.id_col).alias("cell_id"),
            F.col(self.vec_col).alias("__cvec"),
        )
        qcells = q.crossJoin(F.broadcast(c)).withColumn(
            "__sim", cosine6(F.col("__qvec"), F.col("__cvec"))
        )
        wq = Window.partitionBy(query_id).orderBy(
            F.desc("__sim"), F.asc("cell_id")
        )
        return (
            qcells.withColumn("__rn", F.row_number().over(wq))
            .filter(F.col("__rn") <= nprobe)
            .select(query_id, "__qvec", "cell_id")
        )

    def topk_bulk(
        self, queries: DataFrame, k: int = 5, nprobe: int = 4,
        query_id: str = "query_id", where: str | None = None,
    ) -> DataFrame:
        """DISTRIBUTED bulk-kNN serve (round 10, VERDICT r9 #6): the
        probe set stays a DataFrame end to end — nothing is ever
        materialized on the driver, so ``queries`` may be CORPUS-sized
        (the kNN-join shape: every document against the index).

        Plan: probe planning as in :meth:`topk` (broadcast centroids,
        per-query top-nprobe cells), then a SHUFFLE hash join of the
        probe set against the full cell-partitioned assignments on
        ``cell_id`` (a bulk query batch probes essentially every cell,
        so file pruning buys nothing and the driver-side probed-id
        collect the serving path does would be a |Q|-sized OOM — the
        exact ceiling this method removes), exact cosine within
        probed cells, and a per-query window top-k. Skewed hot cells
        rebalance under AQE skew-join. Results are bit-identical to
        :meth:`topk` under the same centroids (unit-tested identity).
        """
        from unity_to_bigquery_spark.llm.similarity import dot, norm

        st = self._scorer_state()
        probed = self._probe_plan(queries, st, nprobe, query_id).withColumn(
            # per-row norms BELOW the join: cosine6's inline form would
            # recompute both norms per candidate PAIR (higher-order
            # lambdas are interpreted and Catalyst does no CSE inside
            # them — CLAUDE.md rule 5; measured 70 s -> ~23 s at
            # |Q|=corpus sf0.1). Same double ops on the same values, so
            # scores stay bit-identical to topk()/cosine6.
            "__qnorm", norm(F.col("__qvec"))
        )
        assigned = self.assignments.read().select(
            self.id_col, self.vec_col, "cell_id", *self.meta_cols
        )
        if where is not None:
            assigned = assigned.filter(F.expr(where))
        assigned = assigned.withColumn("__anorm", norm(F.col(self.vec_col)))
        cand = assigned.join(probed, on="cell_id").filter(
            F.col(self.id_col) != F.col(query_id)
        )
        scored = cand.withColumn(
            "cos6",
            F.floor(
                dot(F.col(self.vec_col), F.col("__qvec"))
                / (F.col("__anorm") * F.col("__qnorm"))
                * 1000000.0
                + 0.5
            ).cast("long"),
        )
        w = Window.partitionBy(query_id).orderBy(
            F.desc("cos6"), F.asc(self.id_col)
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, self.id_col, "cos6", "rank")
        )

    def topk(
        self, queries: DataFrame, k: int = 5, nprobe: int = 4,
        query_id: str = "query_id", where: str | None = None,
    ) -> DataFrame:
        """Serve approximate top-k from the STORED index — no training,
        no corpus-wide assignment, no join back to the source. Probes
        are planned against the broadcast centroid table; the
        assignments scan is pruned to the probed cells via manifest
        stats (the bounded driver step is one |Q|×nprobe cell-id
        collect); scoring is the shared ``ivf_search`` plan, so results
        are bit-identical to ``ivf_topk`` under the same centroids.

        ``where`` (FILTERED ANN): a SQL predicate over ``meta_cols``
        applied INSIDE the probed-cell scan — pre-filtering, the
        vector-database semantics where every returned neighbor
        satisfies the predicate and ranks are computed among matches
        only. Selective predicates thin the candidate pool per cell,
        so raise ``nprobe`` accordingly (the recall/selectivity
        trade-off is the operator's, not hidden)."""
        st = self._scorer_state()
        probed = self._probe_plan(queries, st, nprobe, query_id)
        # Driver-side materialization instead of persist: the probed
        # set is <= |Q|·nprobe rows by construction (the same bound the
        # cell-id collect below already relies on), and a persist here
        # leaked cached blocks across repeated serving calls in long
        # sessions (ADVICE r8 / CLAUDE.md rule-13 GC class — the lazy
        # result DataFrame gave no point to unpersist at). One job
        # collects the rows; the probed ids derive from them for free.
        probed_schema = probed.schema
        probed_rows = probed.collect()
        probed = self.spark.createDataFrame(probed_rows, probed_schema)
        probed_ids = sorted({r["cell_id"] for r in probed_rows})
        assigned = self.assignments.read_pruned_eq("cell_id", probed_ids).select(
            self.id_col, self.vec_col, "cell_id", *self.meta_cols
        )
        if where is not None:
            assigned = assigned.filter(F.expr(where))
        out = ivf_rank_candidates(
            assigned, probed, k, self.id_col, self.vec_col, query_id
        )
        return out

    # ---- maintenance -----------------------------------------------------
    def compact(self) -> None:
        """OPTIMIZE the index storage: cell-partitioned refreshes
        accrue roughly one file per touched cell per page (the
        lakehouse small-files problem — BASELINE.md §ann-index records
        ~1.5k files at 20k vectors uncompacted), so periodic
        compaction keeps the probed-cell scan's file count ∝ cells,
        not ∝ refresh count. Content/serving unchanged (bit-identical
        rows; compact is a regular commit, the refresh bookmark in the
        txns map carries forward). Streaming-source consumers of these
        tables are unaffected too: compact churn delivers nothing."""
        self.assignments.compact()
        self.centroids.compact()

    # ---- drift / retrain policy ------------------------------------------
    def drift_stats(self) -> DataFrame:
        """Assignment quality per refresh epoch, straight off the
        stored index: (src_version, n, mean_sim6) — mean cosine of each
        epoch's vectors to their assigned centroid, 1e-6 fixed point.
        The build epoch is the smallest src_version present (a retrain
        rewrites every row to its own epoch)."""
        return (
            self.assignments.read()
            .groupBy("src_version")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.floor(F.avg("sim6")).cast("long").alias("mean_sim6"),
            )
        )

    def should_retrain(self, drop6: int = 50_000, min_new: int = 50) -> bool:
        """Retrain trigger: True when the NEWEST refresh epoch's mean
        assignment quality fell more than ``drop6`` (1e-6 cosine units,
        default 0.05) below the FIRST refresh epoch's — i.e. incoming
        data no longer matches the trained cell structure.

        The baseline is deliberately the first REFRESH epoch, not the
        build epoch: build-epoch quality is in-sample (the centroids
        were trained on those vectors) while refresh epochs are
        out-of-sample, and the train/held-out gap would read as "drift"
        on day one (measured ~0.11 on the near-random fixture). Drift
        is out-of-sample quality DEGRADING over time — apples to
        apples. With fewer than two qualifying refresh epochs there is
        no signal yet and the answer is False. Epochs smaller than
        ``min_new`` vectors are ignored (a handful of outliers is not
        drift). The stats read is epoch-count-sized, not corpus-sized
        (hash agg over the index, one row per epoch)."""
        rows = sorted(
            self.drift_stats().collect(), key=lambda r: r.src_version
        )  # bounded: one row per refresh epoch
        refreshes = [r for r in rows[1:] if r.n >= min_new]
        if len(refreshes) < 2:
            return False
        return refreshes[-1].mean_sim6 < refreshes[0].mean_sim6 - drop6


class PqIndex(DerivedIndex):
    """Persisted PRODUCT-QUANTIZATION index over an append-only
    VersionedTable of embeddings — the memory tier below :class:`AnnIndex`
    on the quantization curve (codes are m small ints per vector; the
    shortlist pass never moves a float vector). Same protocol:

        idx = PqIndex(spark, root, source)
        idx.build()                # train codebooks + encode, once
        idx.topk(queries, k=5)     # ADC shortlist + exact rerank
        ...source.commit_append(new_vectors)...
        idx.refresh()              # ENCODE only the delta (codebooks fixed)
        if idx.should_retrain(): idx.build()

    Storage: ``codebooks`` (sub, code, cvec — m×ksub rows, always
    broadcastable) and ``codes`` (vec_id, sub, code, err6, src_version
    — m rows per vector). ``err6`` is the per-(vector, subspace)
    quantization error ‖u_sub − c‖² in 1e-6 fixed point: the PQ
    analogue of AnnIndex's sim6, making drift ("do the codebooks still
    fit incoming data?") one aggregate over the index. Serving joins
    the (|Q|·shortlist)-sized rerank set back to the source snapshot
    for exact vectors — PQ's whole point is NOT duplicating floats
    into the index.

    Refresh reads the manifest-log CDC like AnnIndex (paged atomic
    idempotent merges, append-only contract enforced); the per-page
    work is |delta| × m × ksub codegen rows — independent of corpus
    size. Differential identity: serving uses the SAME
    ``pq_adc_search`` plan as the in-query ``pq_adc_rerank_topk``, so
    index-served ≡ freshly-encoded-under-the-stored-codebooks is exact
    (pinned in tests/test_ann_index.py)."""

    _app = "pq-index"
    _vector = True

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        source: VersionedTable,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        m: int = 4,
        ksub: int = 16,
        seed: int = 7,
    ):
        self.spark = spark
        self.source = source
        self.id_col = id_col
        self.vec_col = vec_col
        self.m = m
        self.ksub = ksub
        self.seed = seed
        self.codebooks = VersionedTable(spark, os.path.join(root, "codebooks"))
        self.codes = VersionedTable(spark, os.path.join(root, "codes"))
        self._tables = (self.codes,)

    def _train(self, snap: DataFrame) -> DataFrame:
        return _train_codebooks(self, snap)

    def _model(self) -> DataFrame:
        return self.codebooks.read()

    def _state_rows(self, vecs: DataFrame, v: int, books: DataFrame) -> tuple:
        """Encode L2-normalized ``vecs`` against ``books``; one row per
        (vector, subspace) with the quantization error retained for
        drift accounting (pq_encode's argmin recomputed distance would
        be a second pass — fold it here via the codebook join). An
        append window merges on the vector id, so a re-appeared id
        replaces all its m subspace rows."""
        un = _unit(vecs, self.id_col, self.vec_col)
        enc = pq_encode(un, books, m=self.m, id_col=self.id_col,
                        vec_col=self.vec_col)
        # err6: ||u_sub - c||^2 of the CHOSEN code, via one more
        # broadcast position join on (sub, code)
        dim = _vec_dim(vecs, self.vec_col)
        width = dim // self.m
        flat = (
            un.select(self.id_col, F.posexplode(F.col(self.vec_col)).alias("p0", "v"))
            .withColumn("sub", (F.col("p0") / width).cast("int"))
            .withColumn("pos", F.col("p0") % width)
        )
        cb_flat = books.select("sub", "code", F.posexplode("cvec").alias("pos", "cv"))
        err = (
            enc.join(flat, on=[self.id_col, "sub"])
            .join(F.broadcast(cb_flat), on=["sub", "code", "pos"])
            .groupBy(self.id_col, "sub", "code")
            .agg(
                F.floor(
                    F.sum((F.col("v") - F.col("cv")) * (F.col("v") - F.col("cv")))
                    * 1000000.0 + 0.5
                ).cast("long").alias("err6")
            )
        )
        return (
            err.select(
                self.id_col, "sub", "code", "err6",
                F.lit(v).cast("long").alias("src_version"),
            ),
        )

    def topk(
        self, queries: DataFrame, k: int = 5, shortlist: int = 20,
        query_id: str = "query_id",
    ) -> DataFrame:
        """Serve via the shared pq_adc_search plan: broadcast ADC table,
        shortlist from STORED codes (no floats move), exact-cosine
        rerank of the (|Q|·shortlist)-sized set against the source
        snapshot at the indexed version."""
        v = self.indexed_version()
        books = self.codebooks.read()
        codes = self.codes.read().select(self.id_col, "sub", "code")
        corpus = self.source.read(v).select(self.id_col, self.vec_col)
        dim = _vec_dim(corpus, self.vec_col)
        return pq_adc_search(
            codes, books, corpus, queries, dim,
            k=k, m=self.m, shortlist=shortlist,
            id_col=self.id_col, vec_col=self.vec_col, query_id=query_id,
        )

    def drift_stats(self) -> DataFrame:
        """(src_version, n, mean_err6) per refresh epoch — mean PQ
        quantization error of each epoch's vectors (summed over
        subspaces), straight off the stored codes."""
        per_vec = self.codes.read().groupBy(self.id_col, "src_version").agg(
            F.sum("err6").alias("__e")
        )
        return per_vec.groupBy("src_version").agg(
            F.count(F.lit(1)).alias("n"),
            F.floor(F.avg("__e")).cast("long").alias("mean_err6"),
        )

    def should_retrain(self, rise6: int = 100_000, min_new: int = 50) -> bool:
        """Retrain when the NEWEST refresh epoch's mean quantization
        error rose more than ``rise6`` above the FIRST refresh epoch's
        (out-of-sample vs out-of-sample, same train/held-out argument
        as AnnIndex.should_retrain — build-epoch error is in-sample)."""
        rows = sorted(
            self.drift_stats().collect(), key=lambda r: r.src_version
        )  # bounded: one row per refresh epoch
        refreshes = [r for r in rows[1:] if r.n >= min_new]
        if len(refreshes) < 2:
            return False
        return refreshes[-1].mean_err6 > refreshes[0].mean_err6 + rise6


class IvfPqIndex(_CellCentroids):
    """Persisted IVF-PQ index — the COMPOSITION of :class:`AnnIndex`'s
    inverted-list layout and :class:`PqIndex`'s product-quantized codes
    (VERDICT r8 #4, the 1e9-vector memory story): AnnIndex stores raw
    vectors denormalized in cells (fast probes, full float footprint);
    PqIndex stores m-byte codes but ADC-scans the WHOLE code table per
    query batch. This class stores CELL-PARTITIONED codes, so serving

    - probes nprobe cells per query against the broadcast centroids,
    - ADC-scans codes ONLY inside the probed cells (manifest
      distinct-set file skipping — cold cells cost zero IO),
    - exact-cosine reranks a |Q|·shortlist set of vectors read from the
      SOURCE snapshot (broadcast semi-join: the scan streams once, no
      shuffle) —

    raw vectors are never read outside the rerank set, and the index's
    own footprint is m small ints per vector (the codes) plus the
    broadcast-sized centroid/codebook tables. This is FAISS's
    IndexIVFPQ layout on lakehouse tables (non-residual variant: codes
    quantize the L2-normalized vectors themselves, which is what makes
    index-served with nprobe == ncells EXACTLY ``pq_adc_rerank_topk``
    under equal training — the differential in tests/test_ann_index).

    Protocol is the family's: build() trains cells + codebooks on the
    current snapshot and encodes everything (atomic, txn-bookmarked);
    refresh(to_version=…) folds source commits — append windows
    merge_upsert the delta's (cell, code) rows, retraction windows fold
    ``changes_final_state`` into one atomic ``commit_replace_keys`` —
    so it plugs into ``index_cdc_maintenance_sink`` unchanged.

    Scale: probe planning is |Q|·C broadcast rows (or swap in the ivf2
    descent at 1e9 cells); the ADC join touches nprobe/C of the code
    rows; rerank reads shortlist·|Q| source rows. Refresh cost ∝ delta.
    """

    _app = "ivfpq-index"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        source: VersionedTable,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        ncells: int | None = None,
        m: int = 4,
        ksub: int = 16,
        seed: int = 7,
        scorer: str = "flat",
        wprobe: int = 3,
    ):
        super().__init__(
            spark, root, source, id_col, vec_col, ncells, seed, scorer, wprobe
        )
        self.m = m
        self.ksub = ksub
        self.codebooks = VersionedTable(spark, os.path.join(root, "codebooks"))
        # cell-partitioned + distinct-set-indexed, exactly like
        # AnnIndex.assignments — but rows carry CODES, not vectors
        self.codes = VersionedTable(
            spark,
            os.path.join(root, "codes"),
            partition_col="cell_id",
            distinct_index_cols=("cell_id",),
        )
        self._tables = (self.codes,)

    def _train(self, snap: DataFrame) -> tuple:
        self._train_cells(snap)
        return self._scorer_state(), _train_codebooks(self, snap)

    def _model(self) -> tuple:
        return self._scorer_state(), self.codebooks.read()

    def _state_rows(self, vecs: DataFrame, v: int, model: tuple) -> tuple:
        """(id, cell_id, sub, code, src_version) for ``vecs``: cell by
        cosine argmax under the configured scorer (scale-invariant, raw
        vectors fine), codes from the L2-normalized vectors under the
        STORED codebooks."""
        st, books = model
        best = self._best_cells(vecs, st).select(self.id_col, "cell_id")
        enc = pq_encode(
            _unit(vecs, self.id_col, self.vec_col), books, m=self.m,
            id_col=self.id_col, vec_col=self.vec_col,
        )
        return (
            enc.join(best, on=self.id_col).select(
                self.id_col,
                "cell_id",
                F.col("sub"),
                F.col("code"),
                F.lit(v).cast("long").alias("src_version"),
            ),
        )

    # ---- serving ---------------------------------------------------------
    def probed_code_files(self, queries: DataFrame, nprobe: int = 4):
        """(kept_files, skipped_count) of the codes table for a query
        batch's probed cells — the IO-accounting hook the byte smoke
        uses (serving reads exactly these files plus the rerank set)."""
        probed_ids = self._probe(queries, nprobe, "query_id")[1]
        return self.codes.prune_files_eq("cell_id", probed_ids)

    def _probe_plan(self, queries: DataFrame, nprobe: int, query_id: str):
        """Distributed probe plan (query_id, __qvec, __qunit, cell_id)
        — shared by the bounded serving path (which materializes it)
        and the bulk path (which keeps it distributed)."""
        st = self._scorer_state()
        q = unit_vectors(queries, self.id_col, self.vec_col).select(
            F.col(self.id_col).alias(query_id),
            F.col(self.vec_col).alias("__qvec"),
            F.col("__unit").alias("__qunit"),
        )
        if self.scorer == "ivf2":
            # O(√C) descent plans the probes; the unit vectors the ADC
            # table needs re-attach by query id (|Q|·nprobe rows)
            return ivf2_descend(
                queries, st["coarse"], st["fine_vecs"], self.wprobe, nprobe,
                self.id_col, self.vec_col,
            ).select(
                F.col(self.id_col).alias(query_id), "cell_id"
            ).join(q, on=query_id).select(query_id, "__qvec", "__qunit", "cell_id")
        cents = st["cents"]
        c = cents.select(
            F.col(self.id_col).alias("cell_id"),
            F.col(self.vec_col).alias("__cvec"),
        )
        qcells = q.crossJoin(F.broadcast(c)).withColumn(
            "__sim", cosine6(F.col("__qvec"), F.col("__cvec"))
        )
        wq = Window.partitionBy(query_id).orderBy(F.desc("__sim"), F.asc("cell_id"))
        return (
            qcells.withColumn("__rn", F.row_number().over(wq))
            .filter(F.col("__rn") <= nprobe)
            .select(query_id, "__qvec", "__qunit", "cell_id")
        )

    def _probe(self, queries: DataFrame, nprobe: int, query_id: str):
        """(probed_df(query_id, __qvec, __qunit, cell_id), probed_ids).
        Driver-side materialization, not persist (ADVICE r8 pattern):
        <= |Q|·nprobe rows by construction — the SERVING contract;
        corpus-sized query batches use :meth:`topk_bulk`."""
        probed = self._probe_plan(queries, nprobe, query_id)
        schema = probed.schema
        rows = probed.collect()
        probed = self.spark.createDataFrame(rows, schema)
        return probed, sorted({r["cell_id"] for r in rows})

    def topk(
        self, queries: DataFrame, k: int = 5, nprobe: int = 4,
        shortlist: int = 20, query_id: str = "query_id",
    ) -> DataFrame:
        """Serve ANN top-k: probed-cell ADC shortlist from stored codes
        (no float vector moves), exact-cosine rerank of |Q|·shortlist
        source rows. With nprobe == ncells this is EXACTLY the shared
        ``pq_adc_search`` result under the stored training — the
        differential identity tests pin it."""
        v = self.indexed_version()
        probed, probed_ids = self._probe(queries, nprobe, query_id)
        codes = self.codes.read_pruned_eq("cell_id", probed_ids).select(
            self.id_col, "cell_id", "sub", "code"
        )
        dim = _vec_dim(queries, self.vec_col)
        width = dim // self.m
        # ADC table: the query batch's per-(subspace, code) dot products
        qflat = (
            probed.select(query_id, "__qunit").distinct()
            .select(query_id, F.posexplode("__qunit").alias("p0", "qv"))
            .withColumn("sub", (F.col("p0") / width).cast("int"))
            .withColumn("pos", F.col("p0") % width)
        )
        cb_flat = self.codebooks.read().select(
            "sub", "code", F.posexplode("cvec").alias("pos", "cv")
        )
        adc = (
            qflat.join(F.broadcast(cb_flat), on=["sub", "pos"])
            .groupBy(query_id, "sub", "code")
            .agg(F.sum(F.col("qv") * F.col("cv")).alias("__pdot"))
        )
        # per-query candidates: codes INSIDE that query's probed cells
        cand = codes.join(
            F.broadcast(probed.select(query_id, "cell_id")), on="cell_id"
        )
        approx = (
            cand.join(F.broadcast(adc), on=[query_id, "sub", "code"])
            .groupBy(query_id, self.id_col)
            .agg(F.sum("__pdot").alias("__adot"))
            .filter(F.col(self.id_col) != F.col(query_id))
        )
        ws = Window.partitionBy(query_id).orderBy(
            F.desc("__adot"), F.asc(self.id_col)
        )
        short = approx.withColumn("__rn", F.row_number().over(ws)).filter(
            F.col("__rn") <= shortlist
        ).select(query_id, self.id_col)
        # exact rerank: ONLY the shortlist rows' vectors leave the source
        corpus = self.source.read(v).select(self.id_col, self.vec_col)
        qv = probed.select(query_id, "__qvec").distinct()
        rer = (
            corpus.join(F.broadcast(short), on=self.id_col)
            .join(F.broadcast(qv), on=query_id)
            .withColumn("cos6", cosine6(F.col(self.vec_col), F.col("__qvec")))
        )
        w2 = Window.partitionBy(query_id).orderBy(F.desc("cos6"), F.asc(self.id_col))
        return (
            rer.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select(query_id, self.id_col, "cos6", "rank")
        )

    def topk_bulk(
        self, queries: DataFrame, k: int = 5, nprobe: int = 4,
        shortlist: int = 20, query_id: str = "query_id",
    ) -> DataFrame:
        """DISTRIBUTED bulk ADC serve (round 10, VERDICT r9 #6): the
        corpus-×-corpus kNN-join shape on the PQ index. Nothing is
        materialized on the driver — the probe set, the per-query ADC
        table, the shortlist, and the rerank set all stay DataFrames,
        joined by SHUFFLE (the serving path's broadcasts assume
        |Q|-bounded sides; a corpus-sized |Q| makes them driver/executor
        OOMs). Codes are scanned in full (a bulk batch probes
        essentially every cell); the rerank still reads only
        |Q|·shortlist raw vectors via the join. Results are
        bit-identical to :meth:`topk` under the same training."""
        v = self.indexed_version()
        probed = self._probe_plan(queries, nprobe, query_id)
        codes = self.codes.read().select(self.id_col, "cell_id", "sub", "code")
        dim = _vec_dim(queries, self.vec_col)
        width = dim // self.m
        qflat = (
            probed.select(query_id, "__qunit").distinct()
            .select(query_id, F.posexplode("__qunit").alias("p0", "qv"))
            .withColumn("sub", (F.col("p0") / width).cast("int"))
            .withColumn("pos", F.col("p0") % width)
        )
        cb_flat = self.codebooks.read().select(
            "sub", "code", F.posexplode("cvec").alias("pos", "cv")
        )
        adc = (
            qflat.join(F.broadcast(cb_flat), on=["sub", "pos"])
            .groupBy(query_id, "sub", "code")
            .agg(F.sum(F.col("qv") * F.col("cv")).alias("__pdot"))
        )
        cand = codes.join(probed.select(query_id, "cell_id"), on="cell_id")
        approx = (
            cand.join(adc, on=[query_id, "sub", "code"])
            .groupBy(query_id, self.id_col)
            .agg(F.sum("__pdot").alias("__adot"))
            .filter(F.col(self.id_col) != F.col(query_id))
        )
        ws = Window.partitionBy(query_id).orderBy(
            F.desc("__adot"), F.asc(self.id_col)
        )
        short = approx.withColumn("__rn", F.row_number().over(ws)).filter(
            F.col("__rn") <= shortlist
        ).select(query_id, self.id_col)
        corpus = self.source.read(v).select(self.id_col, self.vec_col)
        qv = probed.select(query_id, "__qvec").distinct()
        rer = (
            corpus.join(short, on=self.id_col)
            .join(qv, on=query_id)
            .withColumn("cos6", cosine6(F.col(self.vec_col), F.col("__qvec")))
        )
        w2 = Window.partitionBy(query_id).orderBy(F.desc("cos6"), F.asc(self.id_col))
        return (
            rer.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select(query_id, self.id_col, "cos6", "rank")
        )
