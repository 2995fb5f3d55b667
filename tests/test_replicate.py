"""CDC replication (novlake_spark.replicate): change-feed tail applied
as ordered idempotent MERGEs — target converges to the source snapshot
through appends, updates (MERGE), and deletes, survives restarts, and
never double-applies a replayed batch."""

import pyspark.sql.functions as F
import pytest

from novlake_spark.replicate import apply_changes, replicate
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


def test_replayed_batch_is_noop(spark, tmp_path):
    """Re-applying the same (batch, version) change set — what happens
    when foreachBatch re-executes after a sink-side crash — must not
    duplicate or re-delete anything."""
    src = TxTable(spark, str(tmp_path / "src"))
    src.commit(_kv(spark, 0, 20))
    src.delete([("k", "<", 3)])
    dst_path = str(tmp_path / "dst")
    changes = src.changes(-1)
    apply_changes(spark, dst_path, changes, 0, ["k"], "app")
    dst = TxTable(spark, dst_path)
    state = _rows(dst)
    versions = dst.versions()
    apply_changes(spark, dst_path, changes, 0, ["k"], "app")  # replay
    assert _rows(dst) == state
    assert dst.versions() == versions


def test_lake_facade(spark, tmp_path):
    from novlake_spark.lake import Lake

    src = TxTable(spark, str(tmp_path / "src"))
    src.commit(_kv(spark, 0, 10))
    q = Lake(spark).replicate_table(
        src.path, str(tmp_path / "dst"), key=["k"], checkpoint=str(tmp_path / "cp")
    )
    q.awaitTermination(180)
    assert TxTable(spark, str(tmp_path / "dst")).read().count() == 10
