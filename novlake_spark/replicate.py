"""Change-data-capture replication between transaction-logged tables:
tail the source's row-level change feed and apply it onto a target
keyed by a primary key — the cross-region / dev-mirror / downstream-mart
primitive (Delta calls the write half APPLY CHANGES INTO).

Pipeline shape: a call is a synchronous drain, run on a schedule. It
plans the change units past the target's watermark from the source log
and applies each source commit in version order as two MERGE phases,
deletes then inserts — the feed's file-rewrite semantics (a MERGE
surfaces as delete-of-old-rows + insert-of-new-rows in one version, so
that order converges the target although the feed re-delivers a
rewritten file's surviving rows). Each phase is read with a native
parquet scan — no streaming query, no checkpoint. The units' file stats
in the log say whether a phase holds rows and bound its leading key for
MERGE's file scoping, so a phase runs one Spark job, its write; a guard
or bounds job runs only for files without those stats (an older log).
A replica with no mark yet, of a source whose log no longer holds
version 0, starts from the source's head snapshot under
``<app>:<head>:i``.

Exactly-once: every phase commits under txn ``<app>:<version>:<d|i>``,
so the target's own log is the watermark (:func:`source_marks` also
reads the older ``<app>@<batchId>:<version>:<d|i>`` keys of targets a
streaming mirror wrote). A crash between phases resumes at the missing
one, and a landed phase is skipped before any Spark job runs. A drain
whose source head inserted nothing (a deletion-vector DELETE, a
constraint, ANALYZE) ends with a row-free commit of ``<app>:<head>:i``,
so the watermark reaches the head and a ``clean_log`` of the source up
to it never strands the replica.

At 100 TB each phase is a stats-scoped MERGE over an O(changed files)
feed: the lag floor is the schedule interval plus one MERGE, the
bandwidth floor the source's churn, never table size.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from novlake_spark.txlog import TxTable, plan_changes, source_marks, unit_bounds

_META = ("_change_type", "_commit_version")


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
        t._merge(src.read(head), None, key, txn=f"{txn_app}:{head}:i")
        return
    units: dict[tuple[int, str], list] = {}
    for u in plan_changes(src._log, start, head):
        units.setdefault((u.version, u.change_type[0]), []).append(u)
    schema = src.schema_at(head)
    for (v, phase), phase_units in sorted(units.items()):
        if phase in done.get(v, ()):
            continue
        done.setdefault(v, set()).add(phase)
        # units can yield no rows (all DV'd), and a MERGE with an empty
        # source would scope ALL files and rewrite them: the log's row
        # counts say so, and take(1) only where a file has none
        has_rows, bounds = unit_bounds(phase_units, key[0], schema)
        # a delete phase onto a target that does not exist has nothing to delete
        if has_rows is False or phase == "d" and t.latest_version() is None:
            continue
        rows = src._read_units(phase_units, start).drop(*_META)
        if has_rows is None and not rows.take(1):
            continue
        t._merge(rows, None if bounds is None else bounds[:2], key,
                 delete_matched=phase == "d", txn=f"{txn_app}:{v}:{phase}")
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
    """What :func:`replicate` returns: a drain that already finished,
    behind the StreamingQuery calls that callers of a mirror make."""

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
    checkpoint: str | None = None,
    txn_app: str | None = None,
):
    """Replicate ``source_path`` onto ``target_path``: drain the current
    backlog synchronously and return a finished :class:`Drained` handle.
    Call it on a schedule for batch-incremental replication; a failed
    drain raises here, and the next call resumes it exactly once.
    ``checkpoint`` is ignored — the watermark lives in the target's log
    under ``txn_app`` (default ``repl:<target_path>``); it stays a
    parameter so callers written for a streaming mirror keep working."""
    _drain(spark, source_path, target_path, key, txn_app or f"repl:{target_path.rstrip('/')}")
    return Drained()
