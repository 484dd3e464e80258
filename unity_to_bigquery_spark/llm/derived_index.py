"""The build/refresh protocol of the derived indexes over a
:class:`~unity_to_bigquery_spark.plans.versioned.VersionedTable` —
:class:`~.ann_index.AnnIndex`, :class:`~.ann_index.PqIndex`,
:class:`~.ann_index.IvfPqIndex`, :class:`~.gram_index.GramIndex`,
:class:`~.lsh_index.LshIndex` and :class:`~.bm25_index.BM25Index`.

Each index derives state rows from source rows into one or more state
tables. The first state table's commits carry a Delta-style txn
bookmark ``(app, source_version)``, so the index remembers which source
version it reflects (CLAUDE.md rule 17):

- :meth:`DerivedIndex.build` trains whatever model the index has
  (centroids, codebooks) on the current snapshot and overwrites every
  state table atomically, bookmarked;
- :meth:`DerivedIndex.refresh` folds the source commits since the
  bookmark, paged and exactly-once — the incremental derived-state
  maintenance of *Incremental Based Framework for Efficient Top-K
  Similarity Search in Interactive Data Analysis Sessions* (EDBT 2020).

A subclass supplies only what differs: ``_app`` and ``_tables``, how
source rows become state rows (``_state_rows``), its model
(``_train``/``_model``), whether it is a vector index (``_vector``) and
any rollups fed from its state tables (``_fold_rollups``).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from unity_to_bigquery_spark.plans.versioned import VersionedTable


class DerivedIndex:
    """Build/refresh protocol shared by the derived indexes. Subclasses
    set ``spark``, ``source``, ``id_col`` and ``_tables`` (the state
    tables, bookmark table first) in their constructor."""

    _app: str  # txn app id of the bookmark (on-disk contract)
    # Vector indexes (ANN, PQ, IVF-PQ) fold append windows with
    # merge_upsert on the id, so a re-appended id replaces its rows;
    # the text indexes append. Vector encoders also probe the dimension
    # off the first input row on the driver, so a pure-delete page must
    # not reach them (CLAUDE.md rule 19).
    _vector = False
    _tables: tuple[VersionedTable, ...]

    def _state_rows(self, docs: DataFrame, v: int, model) -> tuple:
        """One state-row frame per state table for source rows ``docs``
        at source version ``v``, under ``model``."""
        raise NotImplementedError

    def _train(self, snap: DataFrame):
        """Train and commit the model on the build snapshot; returns the
        model ``_state_rows`` reads."""
        return self._model()

    def _model(self):
        """The stored model refresh encodes against (None: no model)."""
        return None

    def _fold_rollups(self) -> None:
        """Refresh rollups fed by the state tables (none by default)."""

    def indexed_version(self) -> int:
        """Source version the index reflects (0 = never built) — the txn
        bookmark on the first state table."""
        return self._tables[0].manifest().get("txns", {}).get(self._app, 0)

    def build(self) -> int:
        """Train on the CURRENT source snapshot and derive every state
        row; returns the indexed source version. Also the RETRAIN path:
        each state table is atomically overwritten and the bookmark
        advances, or is kept on a same-version rebuild. A crash between
        commits is repaired by running build again (training is
        seed-deterministic)."""
        v = self.source.latest_version()
        if v == 0:
            raise ValueError(f"{type(self).__name__}.build: source table is empty")
        # Decided once, before any overwrite: a rebuild at an already-
        # bookmarked version commits without a txn, since the txn no-op
        # check would otherwise skip it silently.
        txn = None if self.indexed_version() >= v else (self._app, v)
        snap = self.source.read(v)
        rows = self._state_rows(snap, v, self._train(snap))
        for table, df in zip(self._tables, rows):
            table.commit_overwrite(df, txn=txn)
        self._fold_rollups()
        return v

    def refresh(
        self, max_commits: int | None = None, to_version: int | None = None
    ) -> int:
        """Fold every source commit since the bookmark into the index;
        returns the source version now reflected. No-op when current.
        Backlogs page at ``max_commits`` (default CDC_MAX_COMMITS) — one
        atomic idempotent commit per state table per page, crash-
        resumable between pages (the txn bookmark replays exactly-once).

        Append-only pages derive rows for the delta only. Pages with
        deletes or rewrites fold the NET per-key effect
        (``changes_final_state``: equality deletes, positional deletes,
        merge updates, overwrites) into one ``commit_replace_keys``:
        changed keys' stale rows die merge-on-read, final states are
        re-derived under the STORED model, removed keys get no row. Cost
        is ∝ the net delta, never corpus size.

        ``to_version`` refreshes exactly up to that source version. A
        CDC-stream micro-batch is commit-aligned, so pinning the refresh
        to its max ``_commit_version`` keeps the index in lockstep with
        the stream, and a replayed batch (``to_version`` <= bookmark) is
        a no-op — exactly-once without sink-side state."""
        page = VersionedTable.CDC_MAX_COMMITS if max_commits is None else max_commits
        if page < 1:
            raise ValueError(f"max_commits must be >= 1, got {page}")
        last = self.indexed_version()
        if last == 0:
            raise ValueError(
                f"{type(self).__name__}.refresh: build() the index first"
            )
        if to_version is not None and to_version <= last:
            return last  # replayed/old boundary: exactly-once no-op
        now = self.source.latest_version() if to_version is None else to_version
        model = self._model()
        while last < now:
            upto = min(last + page, now)
            txn = (self._app, upto)
            if self.source.window_is_append_only(last, upto):
                delta = self.source.changes(last, upto)
                for table, df in zip(self._tables, self._state_rows(delta, upto, model)):
                    if self._vector:
                        table.merge_upsert(df, self.id_col, txn=txn)
                    else:
                        table.commit_append(df, txn=txn)
            else:
                final = self.source.changes_final_state(
                    self.id_col, last, upto
                ).persist()  # feeds both the new rows and the key set
                ups = final.filter(
                    F.col(VersionedTable.CDC_TYPE_COL) == "upsert"
                ).drop(VersionedTable.CDC_TYPE_COL, VersionedTable.CDC_VERSION_COL)
                if self._vector and ups.isEmpty():  # pure-delete page
                    rows = [_empty_like(self.spark, t) for t in self._tables]
                else:
                    rows = self._state_rows(ups, upto, model)
                keys = final.select(self.id_col)
                for table, df in zip(self._tables, rows):
                    table.commit_replace_keys(df, keys, self.id_col, txn=txn)
                final.unpersist()
            last = upto
        self._fold_rollups()
        # threshold auto-OPTIMIZE: refreshes accrue ~1 file per touched
        # partition per page and one merge-on-read delete entry per
        # retraction page; compaction keeps both bounded
        for table in self._tables:
            table.auto_compact()
        return last


def _empty_like(spark, table: VersionedTable) -> DataFrame:
    """Empty DataFrame with a state table's manifest schema — the
    replacement-row set of a pure-delete refresh page."""
    from pyspark.sql.types import StructType

    return spark.createDataFrame(
        [], StructType.fromDDL(table.manifest()["schema"])
    )
