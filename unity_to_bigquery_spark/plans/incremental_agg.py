"""Continuous aggregates: a materialized per-key rollup maintained
incrementally from a VersionedTable's CDC reads — TimescaleDB
continuous aggregates / materialized-view maintenance, built on the
manifest log instead of a full rescan.

Generalizes the reference's incremental-continuation idea
(``Unity_to_BigQuery.py:63-66,155`` — resume from the last processed
job) from "which files have I ingested" to "which source VERSION has
my aggregate folded in".

Scale: each refresh touches (a) the delta files added since the last
refresh (``changes()`` — an explicit-file-list scan, never the whole
table) and (b) the aggregate-table files holding the touched keys
(``merge_upsert`` prunes by key-range stats). Neither cost grows with
total source size. Sums are stored as 1e-6 fixed-point longs so
partial aggregates merge exactly (order-independent, cross-engine —
functions/canonical.py discipline).

MIN/MAX measures (round 11, VERDICT r10 #3) are the classic
NON-INVERTIBLE case: appends fold as ``least``/``greatest``, but a
retraction can kill the current extremum, and no signed arithmetic
recovers the runner-up. The standard IVM fallback applies: detect
exactly the keys where a deleted value ties-or-beats the stored
extremum and RESCAN ONLY THOSE KEYS' live rows in the source
(key-range-pruned scan) — refresh cost stays ∝ delta plus the
affected keys' slices, never the table.

Exactly-once: the refresh folds the delta and records the source
version in ONE atomic commit (``merge_upsert(txn=...)``), so a crash
between publish and anything else re-runs as a no-op; double-counting
a delta is impossible.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from unity_to_bigquery_spark.plans.versioned import VersionedTable

_APP = "contagg-refresh"


def _fx(col: str):
    """1e-6 fixed-point long rendering (canonical.py discipline)."""
    return F.floor(F.col(col) * 1000000.0 + F.lit(0.5)).cast("long")


class ContinuousAggregate:
    """Maintains ``root`` as a rollup of ``source``: one row per value
    of ``key`` with ``n`` (row count), a 1e-6 fixed-point long sum per
    entry of ``measures`` ({out_col: source_double_col}), and optional
    fixed-point ``min_measures`` / ``max_measures`` extrema.

    ``key`` may be a LIST of columns (round 13 — composite dims, the
    GROUP BY a, b rollup): one row per dim tuple, stored alongside a
    synthesized single string merge key (``CKEY``: unit-separator join
    of the stringified dims) so merge_upsert, key-range file pruning
    and the extremum-rescan semi-join run unchanged; the rescan's
    source-file pruning uses the FIRST dim's range (conservative).
    A composite rollup also answers GROUP BY over any dim SUBSET by
    re-aggregation (plans/mv_rewrite.py routes this automatically).

    With the default ``handle_deletes=False`` the source must be
    append-only (``changes()`` is add-only CDC). ``handle_deletes=True``
    switches the refresh to the full change feed
    (``changes_with_type()``) and folds retraction rows as NEGATIVE
    deltas — delete_where / rewrite commits then keep the rollup exact.
    MIN/MAX under deletes use the key-scoped rescan fallback (module
    docstring). A key whose count reaches zero persists as an ``n=0``
    tombstone in storage (one atomic merge commit keeps exactly-once; a
    separate delete commit would break it) with NULL extrema, and
    ``read()`` filters tombstones out, so the rollup always equals a
    full groupBy of the live snapshot.
    """

    #: composite-key encoding (round 13): unit-separator join of the
    #: stringified dims, NULL as the 0x1e sentinel — one stored merge
    #: key so merge_upsert/key-range pruning stay single-column
    CKEY = "__ckey"
    _SEP = "\x1f"
    _NULL = "\x1e"

    def __init__(
        self,
        spark: SparkSession,
        source: VersionedTable,
        root: str,
        key: str | list[str] | tuple[str, ...],
        measures: dict[str, str],
        handle_deletes: bool = False,
        min_measures: dict[str, str] | None = None,
        max_measures: dict[str, str] | None = None,
    ):
        self.spark = spark
        self.source = source
        # COMPOSITE KEYS (round 13): a list of dims rolls up one row
        # per dim TUPLE; storage carries the dims plus a synthesized
        # string CKEY column (the merge/prune key), so the whole
        # single-key machinery — merge_upsert, key-range file pruning,
        # the extremum-rescan semi-join — runs unchanged on CKEY.
        self.keys = [key] if isinstance(key, str) else list(key)
        if len(self.keys) != len(set(self.keys)):
            raise ValueError(f"duplicate key columns: {self.keys}")
        self.key = self.keys[0] if len(self.keys) == 1 else self.CKEY
        self.measures = dict(measures)
        self.min_measures = dict(min_measures or {})
        self.max_measures = dict(max_measures or {})
        overlap = (
            (set(self.measures) & set(self.min_measures))
            | (set(self.measures) & set(self.max_measures))
            | (set(self.min_measures) & set(self.max_measures))
        )
        outs = (
            set(self.measures) | set(self.min_measures) | set(self.max_measures)
        )
        if overlap or "n" in outs or self.CKEY in outs | set(self.keys):
            raise ValueError(
                f"measure output names must be distinct, not 'n' and not "
                f"{self.CKEY!r} (clash: {sorted(overlap) or ['n']})"
            )
        self.handle_deletes = handle_deletes
        self.table = VersionedTable(spark, root)

    @property
    def _out_cols(self) -> list[str]:
        return [
            *self.keys, "n",
            *self.measures, *self.min_measures, *self.max_measures,
        ]

    @property
    def _state_cols(self) -> list[str]:
        """Stored columns: the user-facing ones plus, for composite
        keys, the synthesized merge key."""
        cols = self._out_cols
        return cols if self.key != self.CKEY else [self.CKEY, *cols]

    @property
    def _key_cols(self) -> list[str]:
        return [self.key] if self.key != self.CKEY else [self.CKEY, *self.keys]

    def _with_ckey(self, df: DataFrame) -> DataFrame:
        if self.key != self.CKEY:
            return df
        return df.withColumn(
            self.CKEY,
            F.concat_ws(
                self._SEP,
                *(
                    F.coalesce(F.col(k).cast("string"), F.lit(self._NULL))
                    for k in self.keys
                ),
            ),
        )

    def last_refreshed(self) -> int:
        """Source version already folded into the aggregate (0 = none)."""
        return self.table.manifest().get("txns", {}).get(_APP, 0)

    def _delta_agg(self, delta: DataFrame) -> DataFrame:
        aggs = [
            *(F.sum(_fx(src)).alias(out) for out, src in self.measures.items()),
            *(F.min(_fx(src)).alias(out) for out, src in self.min_measures.items()),
            *(F.max(_fx(src)).alias(out) for out, src in self.max_measures.items()),
        ]
        return self._with_ckey(
            delta.groupBy(*self.keys).agg(F.count(F.lit(1)).alias("n"), *aggs)
        )

    def _delta_agg_signed(self, feed: DataFrame) -> DataFrame:
        """Signed fold of a change feed: retraction rows contribute -1
        to the count and subtract their fixed-point measure — the
        standard materialized-view delta rule (insert +r, delete -r).
        For extrema the fold additionally carries the inserted-side
        least/greatest AND the deleted-side least/greatest, so the
        merge step can decide which keys a retraction forces back to
        the source (``__del_lo_*``/``__del_hi_*``)."""
        ct = VersionedTable.CDC_TYPE_COL
        is_del = F.col(ct) == F.lit("delete")
        sign = F.when(is_del, F.lit(-1)).otherwise(F.lit(1))
        aggs = [
            *(
                F.sum(sign * _fx(src)).alias(out)
                for out, src in self.measures.items()
            ),
            *(
                F.min(F.when(~is_del, _fx(src))).alias(out)
                for out, src in self.min_measures.items()
            ),
            *(
                F.min(F.when(is_del, _fx(src))).alias(f"__del_lo_{out}")
                for out, src in self.min_measures.items()
            ),
            *(
                F.max(F.when(~is_del, _fx(src))).alias(out)
                for out, src in self.max_measures.items()
            ),
            *(
                F.max(F.when(is_del, _fx(src))).alias(f"__del_hi_{out}")
                for out, src in self.max_measures.items()
            ),
        ]
        return self._with_ckey(
            feed.groupBy(*self.keys).agg(F.sum(sign).alias("n"), *aggs)
        )

    def refresh(self, max_commits: int | None = None) -> int:
        """Fold all source commits since the last refresh into the
        rollup; returns the source version now reflected. No-op when
        already current (and when called twice — txn idempotency).

        A catch-up longer than ``max_commits`` (default
        ``VersionedTable.CDC_MAX_COMMITS``) is PAGED: each page folds
        ≤max_commits commits in its own atomic merge commit, so a crash
        between pages resumes from the last committed page instead of
        redoing the whole backlog (folds over consecutive pages compose
        exactly — the CDC-level composition is unit-tested in
        test_cdc_retractions)."""
        page = (
            VersionedTable.CDC_MAX_COMMITS if max_commits is None else max_commits
        )
        if page < 1:
            raise ValueError(f"max_commits must be >= 1, got {page}")
        last = self.last_refreshed()
        now = self.source.latest_version()
        while last < now:
            last = self._refresh_window(last, min(last + page, now))
        return last

    def _merge_extrema(self, merged: DataFrame, to_version: int) -> DataFrame:
        """Resolve provisional extrema after the state join: pure
        least/greatest where no retraction can have killed the stored
        extremum; key-scoped live-source rescan where one could.
        Churn-carried rows (a rewrite re-emitting an unchanged extremum
        as delete+insert) over-trigger the rescan — correct, just paid
        when a rewrite touches an extremum row's file."""
        # Fire the rescan whenever a delete-side extremum ties-or-beats
        # the PROVISIONAL extremum (null-skipping least/greatest of
        # stored state and insert-side). Comparing against c_out alone
        # (pre-r12 form) missed keys with NULL state — a brand-new key
        # or tombstone revival whose insert+delete land in the SAME
        # window kept the deleted value as the extremum (ADVICE r11
        # high). Strictly-beaten provisionals stay provably exact: if
        # del_lo > least(c,out) the window's min insert was never
        # deleted (a same-window delete of value v forces del_lo <= v),
        # so the provisional survives.
        need = F.lit(False)
        for out in self.min_measures:
            prov = F.least(F.col(f"c_{out}"), F.col(out))
            need = need | (
                F.col(f"__del_lo_{out}").isNotNull()
                & (prov.isNull() | (F.col(f"__del_lo_{out}") <= prov))
            )
        for out in self.max_measures:
            prov = F.greatest(F.col(f"c_{out}"), F.col(out))
            need = need | (
                F.col(f"__del_hi_{out}").isNotNull()
                & (prov.isNull() | (F.col(f"__del_hi_{out}") >= prov))
            )
        merged = merged.withColumn("__rescan", need & (F.col("n") > 0))
        # bounded driver probe: the rescan key set is delta-sized; its
        # bounds both decide "any rescan at all?" and prune the source
        # scan to the files that can hold those keys
        b = (
            merged.filter(F.col("__rescan"))
            .agg(
                F.min(self.keys[0]).alias("lo"),
                F.max(self.keys[0]).alias("hi"),
            )
            .first()
        )
        prov_min = {
            out: F.when(
                F.col("n") > 0, F.least(F.col(f"c_{out}"), F.col(out))
            ).alias(out)
            for out in self.min_measures
        }
        prov_max = {
            out: F.when(
                F.col("n") > 0, F.greatest(F.col(f"c_{out}"), F.col(out))
            ).alias(out)
            for out in self.max_measures
        }
        passthrough = [*self._key_cols, "n", *self.measures]
        if b is None or b["lo"] is None:
            return merged.select(
                *passthrough, *prov_min.values(), *prov_max.values()
            )
        # pinned at the fold boundary, NOT head: a paged catch-up must
        # see exactly the state this window's commits produced, or the
        # page-compose invariant breaks
        # prune by the FIRST dim's range (the one stored in the source;
        # conservative for composite keys), then exact-match on the key
        live = self._with_ckey(
            self.source.read_pruned(
                self.keys[0], b["lo"], b["hi"], version=to_version
            )
        )
        actual = (
            live.join(
                merged.filter(F.col("__rescan")).select(self.key),
                on=self.key, how="left_semi",
            )
            .groupBy(self.key)
            .agg(
                *(
                    F.min(_fx(src)).alias(f"__act_{out}")
                    for out, src in self.min_measures.items()
                ),
                *(
                    F.max(_fx(src)).alias(f"__act_{out}")
                    for out, src in self.max_measures.items()
                ),
            )
        )
        final = merged.join(actual, on=self.key, how="left")
        outs = []
        for out, prov in {**prov_min, **prov_max}.items():
            outs.append(
                F.when(F.col("__rescan"), F.col(f"__act_{out}"))
                .otherwise(prov)
                .alias(out)
            )
        return final.select(*passthrough, *outs)

    def _refresh_window(self, last: int, now: int) -> int:
        """Fold source commits in ``(last, now]`` as one atomic merge
        commit stamped txn=(app, now)."""
        updates = self._folded_state(last, now)
        # merge_upsert executes this updates plan twice (key-bounds agg
        # for file pruning, then the file write). A persist() of
        # updates was tried to dedupe that (r6) and measured SLOWER at
        # sf0.1 (min-of-3 2.65 s vs 1.9-2.0 s unpersisted, alternating
        # A/B in one session): the delta is toy-sized here, so the
        # extra cache stage per refresh costs more than the re-scan
        # saves. At real scale the delta fold is aggregate-sized (one
        # row per touched key) either way — revisit persist only if a
        # wide-key workload shows the double execution in job timings.
        # r13 optimization round: for APPEND-ONLY windows the probe is
        # gone entirely — the window's added files bound the touched
        # keys from manifest stats alone (single source-column keys;
        # the synthesized CKEY has no source stats), so the fold plan
        # executes exactly once, at the write.
        kb = None
        if self.key != self.CKEY and self.source.window_is_append_only(last, now):
            kb = self.source.window_added_stat_bounds(self.key, last, now)
        self.table.merge_upsert(updates, self.key, txn=(_APP, now), key_bounds=kb)
        return now

    def _folded_state(self, last: int, now: int) -> DataFrame:
        """The post-fold rollup rows for every key the ``(last, now]``
        delta touches — the state ``_refresh_window`` commits, as a
        pure plan (shared by ``read_realtime``, which unions it with
        the untouched stored rows instead of committing)."""
        has_extrema = bool(self.min_measures or self.max_measures)
        # Append-only windows take the UNSIGNED path even under
        # handle_deletes (r13 optimization round): the manifest proves
        # no commit in (last, now] retracts anything, so the typed feed
        # is all inserts, the signed fold degenerates to the plain one
        # (__del_* all NULL) and _merge_extrema's rescan probe — a
        # driver job that re-executes the whole fold plan — can never
        # fire. Bit-identical by construction; skips one full fold
        # execution + one job per append-page refresh.
        use_signed = self.handle_deletes and not self.source.window_is_append_only(
            last, now
        )
        if use_signed:
            d = self._delta_agg_signed(
                self.source.changes_with_type(last, now)
            )
        else:
            d = self._delta_agg(self.source.changes(last, now))
        cols = self._state_cols
        if self.table.manifest()["files"]:
            cur = self.table.read()
            state_cols = [
                F.col(f"c.{m}").alias(f"c_{m}")
                for m in (*self.min_measures, *self.max_measures)
            ]
            merged = d.alias("d").join(
                cur.alias("c"), on=self.key, how="left"
            ).select(
                *[F.col(f"d.{k}").alias(k) for k in self._key_cols],
                (F.coalesce(F.col("c.n"), F.lit(0)) + F.col("d.n")).alias("n"),
                *[
                    (F.coalesce(F.col(f"c.{m}"), F.lit(0)) + F.col(f"d.{m}")).alias(m)
                    for m in self.measures
                ],
                *[F.col(f"d.{m}") for m in (*self.min_measures, *self.max_measures)],
                *[
                    F.col(f"d.__del_lo_{m}")
                    for m in self.min_measures
                    if use_signed
                ],
                *[
                    F.col(f"d.__del_hi_{m}")
                    for m in self.max_measures
                    if use_signed
                ],
                *state_cols,
            )
            if has_extrema:
                if use_signed:
                    updates = self._merge_extrema(merged, now).select(*cols)
                else:
                    updates = merged.select(
                        *self._key_cols, "n", *self.measures,
                        *[
                            F.least(F.col(f"c_{m}"), F.col(m)).alias(m)
                            for m in self.min_measures
                        ],
                        *[
                            F.greatest(F.col(f"c_{m}"), F.col(m)).alias(m)
                            for m in self.max_measures
                        ],
                    ).select(*cols)
            else:
                updates = merged.select(*cols)
        else:
            if has_extrema and use_signed:
                # first fold may still contain deletes (e.g. a window
                # spanning append+delete commits): NULL state columns
                # make the rescan predicate vacuous, least/greatest of
                # (NULL, ins) = ins — reuse the merge path with an
                # empty state relation for uniform semantics
                empty_state = [
                    F.lit(None).cast("long").alias(f"c_{m}")
                    for m in (*self.min_measures, *self.max_measures)
                ]
                merged = d.select(
                    *self._key_cols, "n", *self.measures,
                    *self.min_measures, *self.max_measures,
                    *[F.col(f"__del_lo_{m}") for m in self.min_measures],
                    *[F.col(f"__del_hi_{m}") for m in self.max_measures],
                    *empty_state,
                )
                updates = self._merge_extrema(merged, now).select(*cols)
            else:
                updates = d.select(*cols)
        return updates

    def read_realtime(self, to_version: int | None = None) -> DataFrame:
        """REAL-TIME serving (round 13 — TimescaleDB real-time
        continuous aggregates): the rollup with every source commit
        PAST the last refresh folded in at read time, without
        committing anything. Stored rows whose keys the unfolded delta
        never touches pass through verbatim; touched keys run the
        exact ``_refresh_window`` fold (signed deltas, extrema
        least/greatest with the key-scoped rescan fallback) as a plan
        over the CDC window, so the result ALWAYS equals a full groupBy
        of the live source — fresh data with refresh-sized cost, not
        table-sized. A no-lag call degenerates to ``read()``.

        Cost ∝ the unfolded window (delta files + touched-key state),
        like one refresh; a long-idle backlog is better folded via
        ``refresh()`` first (which pages and commits), then served.

        ``to_version`` pins the serve to an OLDER source version (the
        snapshot-consistent-read shape the TableCatalog needs): the
        fold stops at that version. Refused when the rollup's bookmark
        is already PAST it — stored partials can't be unfolded."""
        last = self.last_refreshed()
        now = (
            self.source.latest_version()
            if to_version is None
            else int(to_version)
        )
        if now < last:
            raise ValueError(
                f"rollup already folded through source version {last}; "
                f"cannot serve as of older version {now}"
            )
        if now == last:
            return self.read()
        updates = self._folded_state(last, now).select(*self._state_cols)
        out = updates
        if self.table.manifest()["files"]:
            untouched = self.table.read().join(
                updates.select(self.key), on=self.key, how="left_anti"
            )
            out = untouched.select(*self._state_cols).unionByName(updates)
        if self.handle_deletes:
            out = out.filter(F.col("n") != 0)
        return out.select(*self._out_cols)

    def read(self) -> DataFrame:
        df = self.table.read()
        if self.key == self.CKEY:
            df = df.drop(self.CKEY)
        if self.handle_deletes:
            # tombstones (fully-retracted keys) are storage detail,
            # never a result row — filtered here so the rollup equals a
            # full groupBy of the live snapshot
            df = df.filter(F.col("n") != 0)
        return df
