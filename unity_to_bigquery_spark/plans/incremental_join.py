"""Incremental JOIN-view maintenance (IVM): a materialized inner join
``A ⋈ B`` kept exactly in sync with BOTH sides' change feeds — the
classic materialized-view delta-join rule
(``Δ(A⋈B) = ΔA⋈B_old ∪ A_new⋈ΔB``), re-expressed on VersionedTable's
net-effect CDC (``changes_final_state``) and atomic key-scoped
replaces instead of signed multisets.

Extends the derived-state family (ContinuousAggregate folds per-key
aggregates; the index classes fold per-key assignments) to its first
MULTI-SOURCE member: the view has one txn bookmark PER SIDE, and each
refresh step folds one side's delta against the OTHER side pinned at
its own bookmark, so the view walks the version lattice
``(va, vb) → (va', vb) → (va', vb')`` through states that are each an
exact join of two real snapshots — a crash between steps leaves a
consistent (just older-on-one-side) view, and the txn bookmarks make
every step replay as a no-op.

Generalizes the reference's incremental continuation
(``Unity_to_BigQuery.py:63-66,155`` — resume from the last processed
job) and its routing-dim join (``Unity_to_BigQuery.py:171-176``,
project→dataset lookup at load time) into "which (A-version,
B-version) pair has my materialized join folded in".

Delta rule, concretely. Let the view hold ``A@va ⋈ B@vb``. Step A
folds A's commits ``(va, va']``: every A-key with a net change
(upsert OR delete) gets its entire view slice replaced by
``A@va'⋉keys ⋈ B@vb`` in ONE ``commit_replace_keys`` — deleted keys
simply get no replacement rows, updated keys re-join against the
pinned B snapshot. Step B is symmetric with A pinned at ``va'``.
Unchanged-churn keys (compaction movement, merge-carried neighbors)
are dropped by the feed, so refresh cost tracks the REAL delta.

Scale: each step touches (a) the delta commits' files (explicit-list
CDC scan, never a table rescan), (b) the opposite side's files holding
the delta's JOIN-key ranges (a snapshot scan that prunes by key-range
stats when that side is clustered on the join key — the same
delete-key-clustering argument as the retraction-refresh path), and
(c) the view files holding the touched keys (``commit_replace_keys``
is merge-on-read: stale rows die by equality-delete entry, no view
file is rewritten). None of the three grows with total table size.

Column contract: the two sides' projected columns must be disjoint
(validated) and the join is N:M-safe — view identity is the key PAIR
(``a_key``, ``b_key``), both of which must be in the projections.
"""

from __future__ import annotations

import threading

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from unity_to_bigquery_spark.plans.versioned import VersionedTable

_APP_A = "ivjoin-a"
_APP_B = "ivjoin-b"


class IncrementalJoinView:
    """Maintains ``root`` as the materialized inner join of two keyed
    VersionedTables on ``a.on_col == b.on_col``.

    Parameters: ``a``/``b`` are the source tables, ``a_key``/``b_key``
    their unique row keys (the ``changes_final_state`` contract),
    ``on`` the pair of join columns ``(a_on, b_on)``, and
    ``a_cols``/``b_cols`` the projected columns per side (default: all
    of that side's columns). ``a_key``/``a_on`` are added to the A
    projection automatically (same for B)."""

    def __init__(
        self,
        spark: SparkSession,
        a: VersionedTable,
        a_key: str,
        b: VersionedTable,
        b_key: str,
        on: tuple[str, str],
        root: str,
        a_cols: list[str] | None = None,
        b_cols: list[str] | None = None,
    ):
        self.spark = spark
        self.a, self.a_key = a, a_key
        self.b, self.b_key = b, b_key
        self.a_on, self.b_on = on
        self.root = root
        self.a_cols = list(a_cols) if a_cols is not None else None
        self.b_cols = list(b_cols) if b_cols is not None else None
        self.view = VersionedTable(spark, root)
        # refresh() mutates shared view state (commit_replace_keys
        # stages per-file stats on the handle); two concurrent
        # per-side CDC maintenance streams share ONE view instance, so
        # serialize refreshes (ADVICE r10). Cheap: uncontended in every
        # single-threaded path.
        self._refresh_lock = threading.Lock()

    # ---- bookmarks --------------------------------------------------------

    def last_refreshed(self) -> tuple[int, int]:
        """(A-version, B-version) already folded into the view."""
        txns = self.view.manifest().get("txns", {})
        return txns.get(_APP_A, 0), txns.get(_APP_B, 0)

    # ---- projections ------------------------------------------------------

    def _side_cols(self, side: str) -> list[str]:
        if side == "a":
            cols, key, on_col, t = self.a_cols, self.a_key, self.a_on, self.a
        else:
            cols, key, on_col, t = self.b_cols, self.b_key, self.b_on, self.b
        if cols is None:
            schema = t.manifest().get("schema")
            if schema is None:
                raise ValueError(
                    f"IncrementalJoinView: {t.root} has no commits yet, "
                    "so its column set is unknown — pass explicit "
                    "a_cols/b_cols or commit to it first"
                )
            cols = list(StructType.fromDDL(schema).fieldNames())
        out = list(cols)
        for required in (key, on_col):
            if required not in out:
                out.append(required)
        return out

    def _check_disjoint(self, ac: list[str], bc: list[str]) -> None:
        clash = sorted(set(ac) & set(bc))
        if clash:
            raise ValueError(
                f"IncrementalJoinView: side projections must be disjoint, "
                f"both carry {clash}"
            )

    def _join(self, a_rows: DataFrame, b_rows: DataFrame) -> DataFrame:
        ac, bc = self._side_cols("a"), self._side_cols("b")
        self._check_disjoint(ac, bc)
        return (
            a_rows.select(*ac)
            .join(
                b_rows.select(*bc),
                on=F.col(self.a_on) == F.col(self.b_on),
                how="inner",
            )
            .select(*ac, *bc)
        )

    def _snapshot(self, t: VersionedTable, version: int) -> DataFrame:
        """Side snapshot at a bookmark; bookmark 0 = the empty relation
        (schema from the current manifest — version 0 has none)."""
        if version >= 1:
            return t.read(version)
        schema = t.manifest().get("schema")
        if schema is None:
            raise ValueError(
                f"IncrementalJoinView: {t.root} has no commits yet — "
                "refresh() defers folds against a never-written side "
                "(should be unreachable via refresh)"
            )
        return self.spark.createDataFrame([], StructType.fromDDL(schema))

    def _empty_view_rows(self) -> DataFrame:
        """Empty replacement set with the view schema (pure-delete
        page). Built from the source schemas when the view has no
        commit yet (first page can be all-deletes only if a source
        retracted everything before the first refresh — still legal)."""
        m = self.view.manifest()
        if m.get("schema"):
            return self.spark.createDataFrame(
                [], StructType.fromDDL(m["schema"])
            )
        return self._join(
            self._snapshot(self.a, 0), self._snapshot(self.b, 0)
        )

    # ---- refresh ----------------------------------------------------------

    def refresh(
        self,
        max_commits: int | None = None,
        to_a: int | None = None,
        to_b: int | None = None,
    ) -> tuple[int, int]:
        """Fold all unseen commits on BOTH sides into the view; returns
        the (A, B) version pair now reflected. No-op when current —
        and when replayed (per-step txn bookmarks). Backlogs page at
        ``max_commits`` (default ``VersionedTable.CDC_MAX_COMMITS``)
        commits per side per atomic commit, so a crash between pages
        resumes from the last committed page.

        ``to_a``/``to_b`` pin a side's fold to an exact source version
        (a CDC-stream micro-batch boundary — the streaming maintenance
        contract, same as the index classes' ``refresh(to_version)``);
        a pin at or below the bookmark makes that side a no-op, which
        IS the stream-replay exactly-once path.

        A side whose OPPOSITE table has never committed (no schema yet
        — a legitimate startup order for two independent CDC streams)
        is deferred: its bookmark stays put and the fold happens on a
        later refresh once the other side exists. Correct because an
        inner join against a never-written table is provably empty, so
        deferring loses nothing (ADVICE r10)."""
        with self._refresh_lock:
            return self._refresh_locked(max_commits, to_a, to_b)

    def _refresh_locked(
        self,
        max_commits: int | None,
        to_a: int | None,
        to_b: int | None,
    ) -> tuple[int, int]:
        page = (
            VersionedTable.CDC_MAX_COMMITS if max_commits is None else max_commits
        )
        if page < 1:
            raise ValueError(f"max_commits must be >= 1, got {page}")
        last_a, last_b = self.last_refreshed()
        now_a = self.a.latest_version() if to_a is None else to_a
        now_b = self.b.latest_version() if to_b is None else to_b
        if self.b.manifest().get("schema") is None:
            now_a = last_a  # defer: B never committed (see docstring)
        if self.a.manifest().get("schema") is None:
            now_b = last_b  # defer: A never committed
        while last_a < now_a:
            upto = min(last_a + page, now_a)
            self._fold_side(
                self.a, self.a_key, last_a, upto,
                pinned=self._snapshot(self.b, last_b),
                a_side=True, txn=(_APP_A, upto),
            )
            last_a = upto
        while last_b < now_b:
            upto = min(last_b + page, now_b)
            self._fold_side(
                self.b, self.b_key, last_b, upto,
                pinned=self._snapshot(self.a, last_a),
                a_side=False, txn=(_APP_B, upto),
            )
            last_b = upto
        return last_a, last_b

    def _fold_side(
        self,
        t: VersionedTable,
        key: str,
        since: int,
        upto: int,
        pinned: DataFrame,
        a_side: bool,
        txn: tuple[str, int],
    ) -> None:
        """One atomic page: replace the view slice of every net-changed
        key on this side with its re-join against the other side's
        pinned snapshot."""
        # feeds both the replacement rows and the key set
        final = t.changes_final_state(key, since, upto).persist()
        try:
            ups = final.filter(
                F.col(VersionedTable.CDC_TYPE_COL) == "upsert"
            ).drop(VersionedTable.CDC_TYPE_COL, VersionedTable.CDC_VERSION_COL)
            if ups.isEmpty():
                rows = self._empty_view_rows()  # pure-delete page
            elif a_side:
                rows = self._join(ups, pinned)
            else:
                rows = self._join(pinned, ups)
            self.view.commit_replace_keys(
                rows, final.select(key), key, txn=txn
            )
        finally:
            final.unpersist()

    # ---- reads ------------------------------------------------------------

    def read(self) -> DataFrame:
        return self.view.read()
