"""Protocol versioning (Delta-style protocol action) + FSCK repair on
the transaction log (novlake_spark.txlog)."""

import json
import os

import pytest

from novlake_spark.txlog import LogReader, ProtocolError, TxTable


def _df(spark, *vals):
    return spark.createDataFrame([(v,) for v in vals], "x long")


def _raw_entry(path, version, **extra):
    """Publish a log entry by hand — simulating a NEWER client whose
    actions this implementation may not understand."""
    entry = {"version": version, "mode": "append", "add": [], "remove": [],
             "ts_ms": 1, **extra}
    with open(os.path.join(path, "_log", f"{version}.json"), "w") as f:
        json.dump(entry, f)


def test_default_protocol_and_detail(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, 1))
    assert t.protocol() == {"min_reader": 1, "min_writer": 1}
    assert t.detail()["protocol"] == {"min_reader": 1, "min_writer": 1}


def test_upgrade_is_monotone_and_capped(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, 1))
    v = t.upgrade_protocol(min_reader=2, min_writer=2)
    assert t.protocol() == {"min_reader": 2, "min_writer": 2}
    assert any(
        h["operation"] == "UPGRADE PROTOCOL" for h in t.describe_history()
    )
    # reads and writes still work at our own supported level
    t.commit(_df(spark, 2))
    assert sorted(r.x for r in t.read().collect()) == [1, 2]
    with pytest.raises(ValueError, match="downgrade"):
        t.upgrade_protocol(min_reader=1)
    with pytest.raises(ValueError, match="beyond this client"):
        t.upgrade_protocol(min_reader=TxTable.READER_VERSION + 1)
    # idempotent re-upgrade publishes nothing new
    assert t.upgrade_protocol(min_reader=2) == v + 1  # v+1 was the data commit


def test_upgrade_survives_checkpoint_and_clean_log(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, 1))
    t.upgrade_protocol(min_reader=2)
    t.commit(_df(spark, 2))
    cp = t.checkpoint()
    t.clean_log(cp)
    assert t.protocol()["min_reader"] == 2
    assert sorted(r.x for r in t.read().collect()) == [1, 2]


def test_future_reader_requirement_blocks_reads(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, 1))
    _raw_entry(str(tmp_path / "t"), 1, protocol={"min_reader": 99, "min_writer": 99})
    fresh = TxTable(spark, str(tmp_path / "t"))
    with pytest.raises(ProtocolError, match="min_reader=99"):
        fresh.read()
    with pytest.raises(ProtocolError):
        fresh.snapshot_adds()
    # a JVM-free reader (what the data source plans from) enforces it too
    with pytest.raises(ProtocolError, match="min_reader=99"):
        LogReader(str(tmp_path / "t")).state()


def test_future_writer_requirement_blocks_writes_not_reads(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, 1))
    _raw_entry(str(tmp_path / "t"), 1, protocol={"min_reader": 1, "min_writer": 99})
    fresh = TxTable(spark, str(tmp_path / "t"))
    assert [r.x for r in fresh.read().collect()] == [1]  # reads unaffected
    with pytest.raises(ProtocolError, match="min_writer=99"):
        fresh.commit(_df(spark, 2))
    # Python writer path refuses the same way
    with pytest.raises(ProtocolError, match="min_writer=99"):
        LogReader(str(tmp_path / "t")).publish(
            {"version": 2, "mode": "append", "add": [], "remove": []},
        )


def test_fsck_detects_and_repairs_missing_file(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, 1, 2))
    t.commit(_df(spark, 3, 4))
    assert t.fsck() == []
    # lose one data file behind the log's back (failed multipart /
    # manual delete / external cleaner)
    victim = next(a for a in t.snapshot_adds() if a["stats"]["x"][0] == 1)
    os.remove(str(tmp_path / "t" / "data" / victim["file"]))
    assert t.fsck() == [victim["file"]]
    with pytest.raises(Exception):
        t.read().collect()  # dangling reference fails the scan
    t.fsck(repair=True)
    assert t.fsck() == []
    survivors = sorted(r.x for r in t.read().collect())
    lost = set(range(victim["stats"]["x"][0], victim["stats"]["x"][1] + 1))
    assert survivors == sorted(set([1, 2, 3, 4]) - lost)
    assert any(h["operation"] == "FSCK REPAIR" for h in t.describe_history())


def test_stale_republished_entry_cannot_downgrade(spark, tmp_path):
    """ADVICE r3: replay folds protocol as a per-field MAX, so a stale
    lower entry (e.g. republished by an upgrade that lost a race to a
    concurrent enable_column_mapping) can never downgrade the gate a
    higher entry already raised."""
    path = str(tmp_path / "t")
    t = TxTable(spark, path)
    t.commit(_df(spark, 1))
    t.upgrade_protocol(min_writer=2)
    v = t.latest_version()
    _raw_entry(path, v + 1, protocol={"min_reader": 1, "min_writer": 1})
    assert t.protocol() == {"min_reader": 1, "min_writer": 2}
    assert LogReader(path).state()[4] == {"min_reader": 1, "min_writer": 2}


def test_lost_upgrade_race_recomputes_fresh(spark, tmp_path):
    """upgrade_protocol's entry is rebuilt from FRESH state on each claim
    attempt: losing a race to a rival's higher upgrade must not land a
    stale lower protocol entry at the next slot."""
    path = str(tmp_path / "t")
    t = TxTable(spark, path)
    t.commit(_df(spark, 1))
    rival = TxTable(spark, path)
    real_publish = t._log.publish

    def racy_publish(entry):
        if not racy_publish.raced:
            racy_publish.raced = True
            rival.upgrade_protocol(min_reader=2, min_writer=2)
            return False  # we lost the version race
        return real_publish(entry)

    racy_publish.raced = False
    t._log.publish = racy_publish
    t.upgrade_protocol(min_writer=2)  # lower request, loses first attempt
    head = t.latest_version()
    entry = t._log.read_entry(head)
    assert entry["protocol"] == {"min_reader": 2, "min_writer": 2}, entry


def test_state_resolution_retries_on_cleaned_checkpoint(spark, tmp_path):
    """ADVICE r3: a checkpoint deleted by a concurrent clean_log between
    listing and read must be invisible — the state fold re-lists."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, 1, 2))
    t.checkpoint()
    real_read = t._log.read_checkpoint
    calls = {"n": 0}

    def flaky_read(version):
        calls["n"] += 1
        if calls["n"] == 1:
            raise FileNotFoundError(f"checkpoint-{version} cleaned")
        return real_read(version)

    t._log.read_checkpoint = flaky_read
    assert sorted(r.x for r in t.read().collect()) == [1, 2]
    assert calls["n"] >= 2  # first read failed, retry resolved


def test_writer_gate_protocol_cache_tracks_head(spark, tmp_path):
    """protocol_fast caches per head version: an upgrade (new head)
    must invalidate, so the next publish sees the raised gate."""
    path = str(tmp_path / "t")
    t = TxTable(spark, path)
    t.commit(_df(spark, 1))
    t.commit(_df(spark, 2))  # prime the cache
    assert t._log.protocol_fast() == {"min_reader": 1, "min_writer": 1}
    rival = TxTable(spark, path)
    rival.upgrade_protocol(min_writer=2)  # within our own support: ok
    assert t._log.protocol_fast() == {"min_reader": 1, "min_writer": 2}
    v = t.latest_version()
    _raw_entry(path, v + 1, protocol={"min_reader": 1, "min_writer": 9})
    with pytest.raises(ProtocolError, match="min_writer=9"):
        t.commit(_df(spark, 3))
