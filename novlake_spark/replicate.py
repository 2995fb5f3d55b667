"""Change-data-capture replication between transaction-logged tables:
tail the source's row-level change feed and apply it onto a target
keyed by a primary key — the cross-region / dev-mirror / downstream-mart
primitive (Delta calls the write half APPLY CHANGES INTO).

Pipeline shape: source commits apply in version order, each as two
MERGE phases, deletes then inserts — the feed's file-rewrite semantics
(a MERGE surfaces as delete-of-old-rows + insert-of-new-rows in one
version, so that order converges the target although the feed
re-delivers a rewritten file's surviving rows). A scheduled run
(``available_now``) is a synchronous drain: it plans the change units
past the target's watermark from the source log and reads each phase
with a native parquet scan — no streaming query, no checkpoint. The
units' file stats in the log say whether a phase holds rows and bound
its leading key for MERGE's file scoping, so a phase runs one Spark job,
its write; a guard or bounds job runs only for files without those
stats (an older log, the Python writer). A replica with no mark yet, of
a source whose log no longer holds version 0, starts from the source's
head snapshot under ``<app>:<head>:i``. A continuous mirror is a
``readStream.format("txlog")`` change-feed query whose ``foreachBatch``
applies the same phases.

Exactly-once: every phase commits under txn ``<app>:<version>:<d|i>``,
so the target's own log is the watermark (:func:`source_marks` also
reads the older ``<app>@<batchId>:<version>:<d|i>`` keys). A crash
between phases resumes at the missing one, a landed phase is skipped
before any Spark job runs, and a stream that lost its checkpoint
replays as no-ops. A drain whose source head inserted nothing (a
deletion-vector DELETE, a constraint, ANALYZE) ends with a row-free
commit of ``<app>:<head>:i``, so the watermark reaches the head and
a ``clean_log`` of the source up to it never strands the replica.

At 100 TB each phase is a stats-scoped MERGE over an O(changed files)
feed: the lag floor is the schedule interval plus one MERGE, the
bandwidth floor the source's churn, never table size.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import SparkSession

from novlake_spark.txlog import TxTable, plan_changes, source_marks, unit_bounds

_META = ("_change_type", "_commit_version")


def _apply_phases(t: TxTable, done: dict[int, set[str]], phases: dict, key: list[str], txn_app: str):
    """MERGE each ``(version, phase)`` of ``phases`` not yet in ``done``
    (the target's :func:`source_marks`) in version order, each version's
    ``"d"`` before its ``"i"``, under txn ``<app>:<version>:<phase>``,
    and record it in ``done``. ``phases`` maps the pair to a function
    building ``(rows, key_range)``: non-empty rows and the ``(lo, hi)``
    bounds of their leading key (None: MERGE computes them), or None
    when the phase has no rows."""
    for v, phase in sorted(phases):
        if phase not in done.get(v, ()):
            built = phases[v, phase]()
            # a delete phase onto a target that does not exist has nothing to delete
            if built is not None and (phase == "i" or t.latest_version() is not None):
                rows, key_range = built
                t._merge(rows, key_range, key, delete_matched=phase == "d",
                         txn=f"{txn_app}:{v}:{phase}")
            done.setdefault(v, set()).add(phase)


def apply_changes(spark: SparkSession, target_path: str, batch_df, key: list[str], txn_app: str):
    """Apply one micro-batch of change-feed rows onto ``target_path``.
    Public so a user's own ``foreachBatch`` can compose it with other
    work; :func:`replicate` is the turnkey wrapper."""
    t = TxTable(spark, target_path)
    # bounded collect: at most two rows per source commit in this batch
    pairs = batch_df.select(*reversed(_META)).distinct().collect()
    phases = {
        (v, c[0]): lambda q=f"_commit_version = {v} AND _change_type = '{c}'": (
            batch_df.where(q).drop(*_META), None
        )
        for v, c in pairs
    }
    _apply_phases(t, source_marks(t.txn_versions(), txn_app), phases, key, txn_app)


def _drain(spark: SparkSession, source_path: str, target_path: str, key: list[str], txn_app: str):
    """Apply every source commit past the target's watermark, then mark
    the source head as applied. A replica with no mark yet, of a source
    whose log no longer holds version 0 (``clean_log``), starts from the
    source's head snapshot instead."""
    src, t = TxTable(spark, source_path), TxTable(spark, target_path)
    done = source_marks(t.txn_versions(), txn_app)
    processed = max(done, default=-1)
    # re-visit the newest marked version unless its insert phase landed:
    # a crash between its delete and insert phases resumes there
    start = processed if "i" in done.get(processed, ()) else max(processed - 1, -1)
    head = src.latest_version()
    if head is None:
        return
    if not done and src.versions()[:1] != [0]:
        phases = {(head, "i"): lambda: (src.read(head), None)}
    else:
        units: dict[tuple[int, str], list] = {}
        for u in plan_changes(src._log, start, head):
            units.setdefault((u.version, u.change_type[0]), []).append(u)
        schema = src.schema_at(head)

        def rows(phase_units):
            # units can yield no rows (all DV'd), and a MERGE with an empty
            # source would scope ALL files and rewrite them: the log's row
            # counts say so, and take(1) only where a file has none
            has_rows, bounds = unit_bounds(phase_units, key[0], schema)
            if has_rows is False:
                return None
            df = src._read_units(phase_units, start).drop(*_META)
            if has_rows is None and not df.take(1):
                return None
            return df, None if bounds is None else bounds[:2]

        phases = {p: partial(rows, us) for p, us in units.items()}
    _apply_phases(t, done, phases, key, txn_app)
    if "i" not in done.get(head, ()):
        _mark_applied(src, t, head, f"{txn_app}:{head}:i")


def _mark_applied(src: TxTable, t: TxTable, head: int, txn: str):
    """Commit ``txn`` onto ``t`` without rows. A source head that inserts
    nothing (deletes only, or metadata only) still moves the target's
    watermark to it, so a ``clean_log`` of the source up to its head
    never leaves the replica's next window below the horizon."""
    if t.latest_version() is None:  # nothing landed yet: an empty replica
        t.commit(src.read(head).limit(0), txn=txn)
    else:
        t._publish_meta(lambda v: {"version": v, "mode": "append", "add": [],
                                   "remove": [], "txn": txn, "op": "SET TRANSACTION"})


class Drained:
    """What ``replicate(available_now=True)`` returns: the StreamingQuery
    calls a scheduled caller makes, for a drain that already finished."""

    isActive = False
    recentProgress = property(lambda self: [])

    def awaitTermination(self, timeout: float | None = None) -> bool | None:
        return None if timeout is None else True

    def stop(self) -> None:
        pass

    def exception(self) -> None:
        return None


def replicate(
    spark: SparkSession,
    source_path: str,
    target_path: str,
    key: list[str],
    checkpoint: str,
    txn_app: str | None = None,
    available_now: bool = True,
):
    """Replicate ``source_path`` onto ``target_path``. With
    ``available_now`` it drains the current backlog synchronously and
    returns a finished :class:`Drained` handle — call it on a schedule
    for batch-incremental replication; a failed drain raises here, and
    the next call resumes it exactly once. ``available_now=False`` starts
    (or resumes, via ``checkpoint``) a continuously-running mirror and
    returns its StreamingQuery; ``checkpoint`` is used only there."""
    app = txn_app or f"repl:{target_path.rstrip('/')}"
    if available_now:
        _drain(spark, source_path, target_path, key, app)
        return Drained()
    from novlake_spark.sources.txlog_source import register_txlog_source

    register_txlog_source(spark)
    return (
        spark.readStream.format("txlog")
        .option("path", source_path)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.foreachBatch(
            lambda batch_df, _: apply_changes(spark, target_path, batch_df, key, app)
        )
        .option("checkpointLocation", checkpoint)
        .start()
    )
