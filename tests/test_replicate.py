"""CDC replication (novlake_spark.replicate): a change-feed drain applied
as ordered idempotent MERGEs — target converges to the source snapshot
through appends, updates (MERGE), and deletes, survives restarts and
crashes between phases, and never applies a source commit twice."""

import pyspark.sql.functions as F
import pytest

from novlake_spark.replicate import replicate
from novlake_spark.sources.txlog_source import TxLogDataSource
from novlake_spark.txlog import TxTable


def _kv(spark, lo, hi, mul=10):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * mul).alias("v")
    )


def _rows(t):
    return sorted((r.k, r.v) for r in t.read().collect())


def _pump(spark, src, dst, cp):
    q = replicate(spark, src, dst, key=["k"], checkpoint=cp)
    q.awaitTermination(180)


def test_replicates_appends_updates_deletes(spark, tmp_path):
    src = TxTable(spark, str(tmp_path / "src"))
    src.commit(_kv(spark, 0, 40))
    dst_path = str(tmp_path / "dst")
    cp = str(tmp_path / "cp")
    _pump(spark, src.path, dst_path, cp)
    dst = TxTable(spark, dst_path)
    assert _rows(dst) == _rows(src)
    # source evolves: update half, delete a range, append new keys
    src.merge(_kv(spark, 10, 20, mul=99), key=["k"])
    src.delete([("k", "<", 5)])
    src.commit(_kv(spark, 40, 50))
    _pump(spark, src.path, dst_path, cp)
    assert _rows(dst) == _rows(src)
    assert (17, 17 * 99) in _rows(dst)  # the update really landed
    assert all(k >= 5 for k, _ in _rows(dst))  # the delete really landed


def test_restore_of_dv_file_streams_without_deleted_rows(spark, tmp_path):
    """insert 0-3, DV delete k=1, overwrite, restore(1): the restore
    re-publishes the vectored add. The stream's insert partition must
    exclude the DV'd row (insert@3 = {0, 2, 3}, no resurrected 1), so a
    replica fed by that stream equals the source."""
    src = TxTable(spark, str(tmp_path / "src"))
    src.commit(_kv(spark, 0, 4).coalesce(1))
    src.delete([("k", "=", 1)], dv=True)
    src.commit(_kv(spark, 7, 8), mode="overwrite")
    src.restore(1)
    # the restore's micro-batch, through the stream reader's own hooks
    source = TxLogDataSource({"path": src.path, "readchangefeed": "true"})
    reader = source.streamReader(source.schema())
    inserted = [
        r["k"]
        for p in reader.partitions({"version": 2}, {"version": 3})
        if p.change_type == "insert"
        for batch in reader.read(p)
        for r in batch.to_pylist()
    ]
    assert sorted(inserted) == [0, 2, 3]
    dst_path = str(tmp_path / "dst")
    _pump(spark, src.path, dst_path, str(tmp_path / "cp"))
    assert _rows(TxTable(spark, dst_path)) == _rows(src) == [(0, 0), (2, 20), (3, 30)]


def test_replication_restart_is_incremental(spark, tmp_path):
    """After a drain, a second run with nothing new applies nothing —
    the target's version history doesn't grow."""
    src = TxTable(spark, str(tmp_path / "src"))
    src.commit(_kv(spark, 0, 20))
    dst_path = str(tmp_path / "dst")
    cp = str(tmp_path / "cp")
    _pump(spark, src.path, dst_path, cp)
    dst = TxTable(spark, dst_path)
    before = dst.versions()
    _pump(spark, src.path, dst_path, cp)
    assert dst.versions() == before


def test_lake_facade(spark, tmp_path):
    from novlake_spark.lake import Lake

    src = TxTable(spark, str(tmp_path / "src"))
    src.commit(_kv(spark, 0, 10))
    q = Lake(spark).replicate_table(
        src.path, str(tmp_path / "dst"), key=["k"], checkpoint=str(tmp_path / "cp")
    )
    q.awaitTermination(180)
    assert TxTable(spark, str(tmp_path / "dst")).read().count() == 10


def test_crash_between_phases_resumes_exactly_once(spark, tmp_path, monkeypatch):
    """A drain that dies after a version's delete phase landed, before
    its insert phase, resumes at the insert phase: the target converges
    and every ``<app>:<version>:<d|i>`` phase commits exactly once."""
    src = TxTable(spark, str(tmp_path / "src"))
    src.commit(_kv(spark, 0, 20))
    dst_path, cp = str(tmp_path / "dst"), str(tmp_path / "cp")
    _pump(spark, src.path, dst_path, cp)
    src.merge(_kv(spark, 5, 25, mul=7), key=["k"])  # version 1: delete + insert
    merge = TxTable._merge

    def crash(self, source, key_range, key, delete_matched=False, txn=None, **kw):
        if txn is not None and txn.endswith(":1:i"):
            raise RuntimeError("crash before the insert phase")
        return merge(self, source, key_range, key, delete_matched=delete_matched, txn=txn, **kw)

    monkeypatch.setattr(TxTable, "_merge", crash)
    with pytest.raises(RuntimeError, match="crash before the insert phase"):
        _pump(spark, src.path, dst_path, cp)
    dst = TxTable(spark, dst_path)
    assert _rows(dst) != _rows(src)  # the delete phase landed alone
    monkeypatch.undo()
    _pump(spark, src.path, dst_path, cp)
    assert _rows(dst) == _rows(src)
    app = f"repl:{dst_path}"
    want = [f"{app}:0:i", f"{app}:1:d", f"{app}:1:i"]
    assert sorted(dst.txn_versions()) == want
    assert sorted(dst._log.read_entry(v).get("txn") for v in dst.versions()) == want


def test_switch_from_batch_keyed_stream(spark, tmp_path):
    """A target fed by the older stream, whose phases carry the batch id
    (``<app>@<batch>:<version>:<d|i>``), switches to the drain without
    re-applying what it holds; later source commits apply exactly once."""
    src = TxTable(spark, str(tmp_path / "src"))
    dst = TxTable(spark, str(tmp_path / "dst"))
    for batch, lo in enumerate((0, 10)):
        v = src.commit(_kv(spark, lo, lo + 10))
        dst.commit(src.changes(v - 1, v).drop("_change_type", "_commit_version"),
                   txn=f"app@{batch}:{v}:i")
    before = dst.versions()

    def drain():
        replicate(spark, src.path, dst.path, key=["k"],
                  checkpoint=str(tmp_path / "fresh_cp"), txn_app="app").awaitTermination(180)

    drain()
    assert dst.versions() == before
    src.commit(_kv(spark, 20, 30))
    drain()
    drain()
    assert len(dst.versions()) == len(before) + 1
    assert _rows(dst) == _rows(src)
    assert "app:2:i" in dst.txn_versions()


def test_drain_handle_starts_no_query_and_idles_without_jobs(spark, tmp_path):
    """``replicate`` returns a finished handle with no streaming query
    left behind, and a drain with nothing new runs no Spark job."""
    src = TxTable(spark, str(tmp_path / "src"))
    src.commit(_kv(spark, 0, 10))
    dst_path, cp = str(tmp_path / "dst"), str(tmp_path / "cp")
    q = replicate(spark, src.path, dst_path, key=["k"], checkpoint=cp)
    assert spark.streams.active == []
    assert q.awaitTermination(180) is True and q.recentProgress == []
    assert not q.isActive and q.exception() is None
    sc = spark.sparkContext
    sc.setJobGroup("idle-drain", "replicate with nothing new")
    try:
        replicate(spark, src.path, dst_path, key=["k"], checkpoint=cp).awaitTermination(180)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("idle-drain") == []
    assert _rows(TxTable(spark, dst_path)) == _rows(src)


def test_drain_below_clean_log_horizon_raises(spark, tmp_path):
    """A replica whose watermark fell below the source's ``clean_log``
    horizon cannot catch up from the log: the drain raises the change
    feed's own error instead of skipping the cleaned versions."""
    src = TxTable(spark, str(tmp_path / "src"))
    src.commit(_kv(spark, 0, 10))
    dst_path, cp = str(tmp_path / "dst"), str(tmp_path / "cp")
    _pump(spark, src.path, dst_path, cp)
    src.commit(_kv(spark, 10, 20))
    src.commit(_kv(spark, 20, 30))
    src.checkpoint(2)
    src.clean_log(2)
    with pytest.raises(ValueError, match="clean_log horizon"):
        _pump(spark, src.path, dst_path, cp)
    with pytest.raises(ValueError, match="clean_log horizon"):
        src.changes(0)


@pytest.mark.parametrize("head_op", ["dv_delete", "metadata"])
def test_drain_to_rowless_head_survives_clean_log(spark, tmp_path, head_op):
    """A source head that inserts nothing — a deletion-vector DELETE (a
    delete phase only) or a metadata-only commit (no phase at all) —
    still moves the replica's watermark to it: a ``clean_log`` of the
    source at its head leaves the next drains working, each source
    change applied exactly once."""
    src = TxTable(spark, str(tmp_path / "src"))
    src.commit(_kv(spark, 0, 20))
    dst_path, cp = str(tmp_path / "dst"), str(tmp_path / "cp")
    _pump(spark, src.path, dst_path, cp)
    if head_op == "dv_delete":
        src.delete([("k", "<", 5)], dv=True)
    else:
        src.add_constraint("k_nonneg", "k >= 0")
    _pump(spark, src.path, dst_path, cp)
    dst = TxTable(spark, dst_path)
    assert _rows(dst) == _rows(src)
    head = src.latest_version()
    src.checkpoint(head)
    src.clean_log(head)
    before = dst.versions()
    _pump(spark, src.path, dst_path, cp)
    assert dst.versions() == before
    v = src.commit(_kv(spark, 20, 30))
    _pump(spark, src.path, dst_path, cp)
    _pump(spark, src.path, dst_path, cp)
    assert len(dst.versions()) == len(before) + 1
    assert _rows(dst) == _rows(src)
    app = f"repl:{dst_path}"
    assert dst.txn_versions()[f"{app}:{v}:i"] == dst.latest_version()
    txns = [dst._log.read_entry(u).get("txn") for u in dst.versions()]
    assert len(txns) == len(set(txns)) and f"{app}:{head}:i" in txns


def test_drain_of_rowless_source_creates_empty_replica(spark, tmp_path):
    """A source whose commits hold no rows yields an empty replica with
    the source's schema, marked at the source head."""
    src = TxTable(spark, str(tmp_path / "src"))
    src.commit(_kv(spark, 0, 0))
    dst_path, cp = str(tmp_path / "dst"), str(tmp_path / "cp")
    _pump(spark, src.path, dst_path, cp)
    dst = TxTable(spark, dst_path)
    assert dst.read().columns == ["k", "v"] and _rows(dst) == []
    assert dst.txn_versions() == {f"repl:{dst_path}:0:i": 0}
    src.checkpoint(0)
    src.clean_log(0)
    src.commit(_kv(spark, 0, 5))
    _pump(spark, src.path, dst_path, cp)
    assert _rows(dst) == _rows(src)


def test_drain_of_one_append_runs_one_job(spark, tmp_path):
    """The drain of one append runs only the MERGE's write job: the
    phase's rows and key range come from the source log's file stats,
    so the empty-phase guard (``take(1)``) and MERGE's key-range
    aggregate run no job (4 jobs before, 1 now)."""
    src = TxTable(spark, str(tmp_path / "src"))
    src.commit(_kv(spark, 0, 50))
    dst_path, cp = str(tmp_path / "dst"), str(tmp_path / "cp")
    _pump(spark, src.path, dst_path, cp)
    src.commit(_kv(spark, 50, 80))
    sc = spark.sparkContext
    sc.setJobGroup("append-drain", "replicate one append")
    try:
        _pump(spark, src.path, dst_path, cp)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("append-drain")) == 1
    assert _rows(TxTable(spark, dst_path)) == _rows(src)


def test_new_replica_of_cleaned_source_starts_from_head(spark, tmp_path):
    """A replica with no mark of a source whose early log is gone
    (``clean_log``) starts from the source's head snapshot under
    ``<app>:<head>:i``; a later source commit applies exactly once."""
    src = TxTable(spark, str(tmp_path / "src"))
    src.commit(_kv(spark, 0, 10))
    src.merge(_kv(spark, 5, 15, mul=3), key=["k"])
    src.checkpoint(1)
    src.clean_log(1)
    dst_path, cp = str(tmp_path / "dst"), str(tmp_path / "cp")
    _pump(spark, src.path, dst_path, cp)
    dst = TxTable(spark, dst_path)
    assert _rows(dst) == _rows(src)
    app = f"repl:{dst_path}"
    assert sorted(dst.txn_versions()) == [f"{app}:1:i"]
    src.commit(_kv(spark, 20, 25))
    _pump(spark, src.path, dst_path, cp)
    _pump(spark, src.path, dst_path, cp)
    assert _rows(dst) == _rows(src)
    want = [f"{app}:1:i", f"{app}:2:i"]
    assert sorted(dst.txn_versions()) == want
    assert sorted(dst._log.read_entry(v).get("txn") for v in dst.versions()) == want
