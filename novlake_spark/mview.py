"""Incrementally-maintained aggregate views over transaction-logged
tables: the classic materialized-view delta-maintenance algorithm
(self-maintainable aggregates over insert/delete streams — Gupta &
Mumick's incremental view maintenance framework, applied to a Delta-style
change feed) on Spark.

Why this matters at 100 TB: a dashboard aggregate over a 100 TB fact
table costs a full scan per refresh if recomputed; with a change feed it
costs O(delta). SUM/COUNT (and AVG = SUM/COUNT at read time) are
self-maintainable under inserts AND deletes — each refresh folds the
signed delta into the running state, no rescan of the base table, and
groups whose live row count reaches zero are dropped (not left as
stale zeros).

MIN/MAX (round 9, VERDICT r8 task #4) are NOT self-maintainable under
deletes — once the extremum row is gone, no amount of folded state says
what the runner-up was. The honest O(delta) decomposition:

- **Inserts fold monotonically** (``new_min = least(cur_min, ins_min)``)
  — the common dashboard path stays a pure delta fold.
- **A delete can only matter if the deleted value TIES OR BEATS the
  folded candidate** (a CDF delete replays a real row, so for a MIN
  measure every deleted value >= the group min that was live when it
  died; a deleted value strictly above the candidate provably didn't
  hold the extremum). Only those groups — extremum deaths — are
  recomputed, by a rescan of the source snapshot SCOPED to exactly
  those groups (stats-pruned file skipping on the group-key range +
  a broadcast semi join), never a full base scan.

In-window churn (a row inserted AND deleted between refreshes) is what
makes the tie test subtle: the churn value appears on both the insert
and delete side of the delta, so folding its insert would resurrect a
dead row. The rule handles it without row identity: if the churn value
would have become the folded extremum, it also ties the delete-side
extremum, which forces the rescan; if not, folding it is harmless.

Exactly-once: each refresh commits with ``txn="src@<version>"`` — the
source high-water mark rides the view's own transaction log (and its
checkpoints), so a crashed/re-run refresh is a no-op instead of
double-counting. The refresh commit itself is stats-scoped like MERGE:
only view files whose group-key range overlaps the delta are rewritten.
That range comes from the log, not from Spark: the change units' add
actions carry row counts, min/max and null counts per file
(:func:`~novlake_spark.txlog.unit_bounds`), which bound the delta's
keys at least as widely as the delta itself. A bounds aggregate over
the delta runs only when some file lacks those stats (an older log, the
Python writer), and the delta is executed once, inside the commit.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from novlake_spark.txlog import (
    TxTable, _stat_value, file_matches, plan_changes, source_marks, unit_bounds,
)

#: Hidden column: live base-row count per group. Needed even when the
#: user only asked for SUMs — it is what detects group death (count==0)
#: and makes AVG derivable. Persisted in the view table.
_N = "__n_rows"


class IncrementalAggView:
    """A grouped-aggregate table maintained incrementally from a
    :class:`TxTable` change feed.

    ``measures`` maps output column name → spec:

    - ``("sum", col)``   running SUM(col)
    - ("count",)         running COUNT(*)
    - ``("avg", col)``   SUM(col) and the hidden row count are stored;
      the AVG is computed at :meth:`read` time (AVG is not
      self-maintainable directly, SUM/COUNT are).
    - ``("min", col)`` / ``("max", col)``   running extremum. Inserts
      fold; a delete that may have removed a group's extremum triggers
      a source rescan scoped to that group only (see module docstring).

    Example::

        view = IncrementalAggView(orders_tx, path, keys=["o_custkey"],
                                  measures={"spend": ("sum", "o_totalprice"),
                                            "n": ("count",)})
        view.refresh()   # after each batch of source commits
    """

    def __init__(
        self,
        source: TxTable,
        path: str,
        keys: list[str],
        measures: dict[str, tuple],
    ):
        if not keys:
            raise ValueError("at least one group key required")
        for name, spec in measures.items():
            if spec[0] not in ("sum", "count", "avg", "min", "max"):
                raise ValueError(f"{name}: unsupported measure {spec[0]!r}")
        self.source = source
        self.keys = list(keys)
        self.measures = dict(measures)
        self._minmax = {
            name: spec for name, spec in measures.items() if spec[0] in ("min", "max")
        }
        self.view = TxTable(source.spark, path)

    # -- watermark ---------------------------------------------------------
    def processed_version(self) -> int:
        """Highest source version folded into the view (-1 = none)."""
        return max(source_marks(self.view.txn_versions(), "src"), default=-1)

    # -- delta computation ---------------------------------------------------
    def _delta(self, units, from_v: int, to_v: int):
        """Signed per-group delta of the change ``units`` of source
        versions (from_v, to_v].

        For MIN/MAX measures two columns come back per measure: the
        insert-side extremum under the measure's own name (what a pure
        fold would apply) and the delete-side extremum under
        ``__dx_<name>`` (what decides whether the fold is SOUND for the
        group — see :meth:`refresh`)."""
        ch = self.source._changes_frame(units, from_v, to_v)
        is_ins = F.col("_change_type") == "insert"
        w = F.when(is_ins, F.lit(1)).otherwise(F.lit(-1))
        aggs = [F.sum(w).alias(_N)]
        for name, spec in self.measures.items():
            if spec[0] == "count":
                aggs.append(F.sum(w).alias(name))
            elif spec[0] in ("min", "max"):
                ext = F.min if spec[0] == "min" else F.max
                col = F.col(spec[1])
                aggs.append(ext(F.when(is_ins, col)).alias(name))
                aggs.append(ext(F.when(~is_ins, col)).alias(f"__dx_{name}"))
            else:  # sum / avg share storage: signed SUM(col)
                aggs.append(F.sum(w * F.col(spec[1])).alias(name))
        return ch.groupBy(*self.keys).agg(*aggs)

    def _recompute(self, src_version: int, group_keys):
        """Defining aggregates recomputed from the source snapshot,
        scoped to ``group_keys`` (a small DataFrame of the groups whose
        extremum died this delta): stats-pruned file skipping on the
        leading group key's range, broadcast semi join for exactness —
        O(affected groups' rows), never a base-table scan."""
        k0 = self.keys[0]
        b = group_keys.agg(
            F.min(k0).alias("lo"),
            F.max(k0).alias("hi"),
            F.sum(F.col(k0).isNull().cast("int")).alias("nulls"),
        ).collect()[0]
        where = None
        if not b["nulls"] and b["lo"] is not None:
            where = [
                (k0, ">=", _stat_value(b["lo"])),
                (k0, "<=", _stat_value(b["hi"])),
            ]
        src = self.source.read(src_version, where=where)
        # eqNullSafe per key, matching the fold join: a plain on=keys
        # semi join is EqualTo, so a NULL group key flagged for rescan
        # would never match and the group would silently vanish from
        # the view even though it has live rows (ADVICE r9). The file
        # scoping above already routes NULL keys here by disabling the
        # stats prune when any flagged key is NULL.
        cond = None
        for k in self.keys:
            c = src[k].eqNullSafe(group_keys[k])
            cond = c if cond is None else (cond & c)
        scoped = src.join(F.broadcast(group_keys), on=cond, how="left_semi")
        aggs = [F.count(F.lit(1)).alias(_N)]
        for name, spec in self.measures.items():
            if spec[0] == "count":
                aggs.append(F.count(F.lit(1)).alias(name))
            elif spec[0] == "min":
                aggs.append(F.min(spec[1]).alias(name))
            elif spec[0] == "max":
                aggs.append(F.max(spec[1]).alias(name))
            else:
                # coalesce to 0 so an all-NULL group stores the SAME
                # representation the fold path writes (its signed sum
                # starts from coalesce(...,0)) — otherwise the persisted
                # value would flip 0 <-> NULL depending on whether a
                # min/max rescan happened to route through this path
                aggs.append(F.coalesce(F.sum(spec[1]), F.lit(0)).alias(name))
        return scoped.groupBy(*self.keys).agg(*aggs)

    def refresh(self) -> int | None:
        """Fold source commits since the last refresh into the view;
        returns the view version committed (None = already current).
        O(delta + overlapping view files + rows of groups whose MIN/MAX
        extremum died), never a base-table scan.

        The window is planned once (:func:`plan_changes`). Whether it
        holds any row, and the leading key's range and null count that
        scope the view rewrite, come from the units' file stats; a
        Spark aggregate over the delta answers only when a file lacks
        them.
        """
        last = self.processed_version()
        latest = self.source.latest_version()
        if latest is None or latest <= last:
            return None
        units = plan_changes(self.source._log, last, latest)
        delta = self._delta(units, last, latest)
        txn = f"src@{latest}"

        base = self.view.latest_version()
        if base is None and not self._minmax:
            state = delta.filter(F.col(_N) > 0)
            return self.view.commit(state, mode="append", txn=txn)

        stat_names = [_N, *self.measures]  # matches _delta's column order
        if base is None:
            # first refresh WITH MIN/MAX measures: in-window churn makes
            # the insert-side extremum unsound even with no prior state,
            # so the fold/rescan machinery below runs against an EMPTY
            # current state instead of the append shortcut above
            touched: list[dict] = []
            cur = delta.select(*self.keys, *stat_names).limit(0)
        else:
            # stats-scope the rewrite: only view files whose leading-key
            # range overlaps the delta's are read and replaced
            adds = self.view.snapshot_adds(base)
            k0 = self.keys[0]
            # the window's rows and key bounds, from the units' file stats
            has_rows, bounds = unit_bounds(units, k0, self.source.schema_at(latest))
            if has_rows is None or bounds is None:
                # a file without row counts, stats or null counts: ask Spark
                b = delta.agg(
                    F.min(k0).alias("lo"),
                    F.max(k0).alias("hi"),
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col(k0).isNull().cast("int")).alias("nulls"),
                ).collect()[0]
                has_rows = b["n"] > 0
                bounds = _stat_value(b["lo"]), _stat_value(b["hi"]), b["nulls"]
            lo, hi, nulls = bounds
            if not has_rows:  # no groups changed at all
                empty = self.view.read(base).limit(0)
                return self.view.commit(empty, mode="append", txn=txn, base_version=base)
            if nulls or lo is None:
                # null group keys are invisible to min/max stats — a file
                # holding the null group can't be proven untouched, so scope
                # to everything (rare: a null group key is usually a bug)
                touched = list(adds)
            else:
                preds = [(k0, ">=", lo), (k0, "<=", hi)]
                touched = [a for a in adds if file_matches(a, preds)]
            if touched:
                # via _read_adds so the view table's schema contract (and a
                # hypothetical column mapping on it) is honored
                cur = self.view._read_adds(touched, self.view.schema_at())
            else:
                cur = self.view.read(base).limit(0)
        # combine: full outer on keys, add signed delta to running state.
        # Delta columns are suffixed pre-join so every reference below is
        # by unambiguous name (outer joins on a string key list coalesce
        # the key columns, which makes df[col] references fragile). The
        # ``__dx_`` delete-side extrema keep their names — they have no
        # counterpart in ``cur`` to collide with.
        d = delta.select(
            *[F.col(k).alias(f"__dk_{k}") for k in self.keys],
            *[F.col(n).alias(f"__d_{n}") for n in stat_names],
            *[F.col(f"__dx_{n}") for n in self._minmax],
        )
        cond = None
        for k in self.keys:
            c = cur[k].eqNullSafe(F.col(f"__dk_{k}"))
            cond = c if cond is None else cond & c
        folded_cols = []
        rescan = F.lit(False)
        for n in stat_names:
            spec = self.measures.get(n)
            if spec is not None and spec[0] in ("min", "max"):
                fold = F.least if spec[0] == "min" else F.greatest
                # least/greatest skip NULLs: a new group folds from the
                # insert side alone, an untouched measure keeps cur
                cand = fold(F.col(n), F.col(f"__d_{n}"))
                folded_cols.append(cand.alias(n))
                dx = F.col(f"__dx_{n}")
                beats = dx <= cand if spec[0] == "min" else dx >= cand
                # a deleted value that ties-or-beats the folded candidate
                # may have HELD the extremum (or be in-window churn that
                # the fold would wrongly resurrect): recompute the group
                rescan = rescan | (dx.isNotNull() & (cand.isNull() | beats))
            else:
                folded_cols.append(
                    (
                        F.coalesce(F.col(n), F.lit(0))
                        + F.coalesce(F.col(f"__d_{n}"), F.lit(0))
                    ).alias(n)
                )
        combined = (
            cur.join(d, on=cond, how="full_outer")
            .select(
                *[F.coalesce(cur[k], F.col(f"__dk_{k}")).alias(k) for k in self.keys],
                *folded_cols,
                rescan.alias("__rescan"),
            )
            .filter(F.col(_N) > 0)  # group died: drop it
        )
        if not self._minmax:
            state = combined.drop("__rescan")
            return self.view.commit(
                state, mode="append", remove=[a["file"] for a in touched],
                base_version=base, txn=txn,
            )
        # MIN/MAX path: the combined state is consumed twice (rescan-key
        # probe + final fold) — persist for the commit's duration only
        combined = combined.persist()
        try:
            rescan_keys = combined.filter(F.col("__rescan")).select(*self.keys)
            state = combined.filter(~F.col("__rescan")).drop("__rescan")
            if not rescan_keys.isEmpty():
                state = state.unionByName(self._recompute(latest, rescan_keys))
            return self.view.commit(
                state, mode="append", remove=[a["file"] for a in touched],
                base_version=base, txn=txn,
            )
        finally:
            combined.unpersist()

    # -- read ----------------------------------------------------------------
    def read(self):
        """Current view contents with AVG measures finalized and the
        hidden row-count column dropped."""
        df = self.view.read()
        cols = list(self.keys)
        for name, spec in self.measures.items():
            if spec[0] == "avg":
                cols.append((F.col(name) / F.col(_N)).alias(name))
            else:
                cols.append(F.col(name))
        return df.select(*cols)
