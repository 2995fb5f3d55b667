"""The txlog Python Data Source (novlake_spark.sources.txlog_source):
format("txlog") batch reads with pushed-filter file skipping, and
readStream over the commit log — exactly-once tailing, checkpoint
restart, change-feed mode."""

import json
import os

import pyspark.sql.functions as F
import pytest
from pyspark.sql.datasource import EqualTo, GreaterThan, IsNotNull

from novlake_spark.sources.txlog_source import (
    _to_predicates,
    _TxLogBatchReader,
    register_txlog_source,
)
from novlake_spark.txlog import LogReader, TxTable, _HadoopFS, _OsFS


def _kv(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.commit(_kv(spark, 0, 100))
    t.commit(_kv(spark, 100, 200))
    register_txlog_source(spark)
    return t


def test_pylog_matches_jvm_log(spark, tmp_path):
    """One local table resolved through both filesystem seams — ``os``
    (what TxTable and the data source use on local paths) and Hadoop
    over py4j (the only seam for remote schemes, which no benchmark
    reaches) — gives identical listings, states at the head and at older
    versions, schema, protocol and TIMESTAMP AS OF. The log has a
    parquet-sidecar checkpoint, a clean_log'ged prefix, a DV in the
    sidecar and a pre-timestamp entry (mtime fallback)."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.checkpoint_interval = 0
    t.parquet_checkpoint_rows = 1
    for lo in range(0, 40, 10):
        t.commit(_kv(spark, lo, lo + 10).coalesce(1))
    t.delete([("k", "=", 3)], dv=True)
    cp = t.checkpoint()  # version 4, add list in the sidecar
    t.commit(_kv(spark, 40, 50))
    t.upgrade_protocol(min_writer=2)
    t.commit(_kv(spark, 50, 55).withColumn("s", F.lit("x")))  # schema evolves
    assert t.clean_log(cp) == [0, 1, 2, 3, 4]
    assert os.path.exists(os.path.join(t.path, "_log", f"checkpoint-{cp}.parquet"))
    with open(os.path.join(t.path, "_log", "8.json"), "w") as f:  # no ts_ms
        json.dump({"version": 8, "mode": "append", "add": [], "remove": []}, f)

    local = LogReader(t.path)
    jvm = LogReader(t.path, _HadoopFS(spark, t.path))
    assert isinstance(local.fs, _OsFS) and isinstance(t._log.fs, _OsFS)
    assert local.listing() == jvm.listing() == ([5, 6, 7, 8], [cp])
    for v in (None, cp, 5, 6):
        assert local.state(v) == jvm.state(v), v
    assert local.state()[0] == t.snapshot_adds()
    assert 3 in next(a for a in local.state(cp)[0] if a.get("dv"))["dv"]
    assert local.schema_at() == jvm.schema_at() == t.schema_at()
    assert local.schema_at(5) == jvm.schema_at(5) != local.schema_at()
    assert local.protocol_fast() == jvm.protocol_fast() == {"min_reader": 1, "min_writer": 2}
    times = [local.commit_time_ms(v) for v in (5, 6, 7, 8)]
    assert times == [jvm.commit_time_ms(v) for v in (5, 6, 7, 8)]
    for ts in times:
        assert local.version_at_time(ts) == jvm.version_at_time(ts)
    with pytest.raises(ValueError, match="not in log"):
        jvm.state(2)  # cleaned: both seams refuse it
    with pytest.raises(ValueError, match="not in log"):
        local.state(2)


def test_log_seam_follows_path_scheme(tmp_path):
    """Scheme-less and file: paths read through os; any other scheme
    needs the Hadoop seam, so a JVM-free reader refuses it."""
    assert isinstance(LogReader(str(tmp_path)).fs, _OsFS)
    assert isinstance(LogReader(f"file:{tmp_path}").fs, _OsFS)
    assert LogReader(f"file:{tmp_path}").versions() == []  # no _log yet
    with pytest.raises(NotImplementedError, match="remote"):
        LogReader("s3a://bucket/t")


def test_local_log_writes_never_open_hadoop(spark, tmp_path):
    """On a local table a metadata-only commit, a checkpoint with a
    parquet sidecar and clean_log publish and delete through the os
    seam: the Hadoop FileSystem (opened lazily, for data files only) is
    never opened."""
    path = str(tmp_path / "t")
    TxTable(spark, path).commit(_kv(spark, 0, 10))
    t = TxTable(spark, path)
    t.parquet_checkpoint_rows = 1
    v = t.add_constraint("k_nonneg", "k >= 0")
    assert t.checkpoint() == v
    assert os.path.exists(f"{path}/_log/checkpoint-{v}.parquet")
    assert t.clean_log(v) == [0, 1]
    assert t.constraints() == {"k_nonneg": "k >= 0"}
    assert t.read().count() == 10
    assert "_fs" not in t.__dict__


def test_batch_read_equals_native(table):
    ds = table.spark.read.format("txlog").option("path", table.path).load()
    native = table.read()
    assert ds.schema == native.schema
    assert sorted(r.k for r in ds.collect()) == sorted(r.k for r in native.collect())


def test_batch_time_travel(table):
    ds = (
        table.spark.read.format("txlog")
        .option("path", table.path)
        .option("version", "0")
        .load()
    )
    assert ds.count() == 100


def test_pushed_filters_prune_files(table):
    """Each commit wrote disjoint k-ranges; an equality predicate must
    plan only the matching file(s) — asserted on the reader directly,
    where the partition list is observable."""
    reader = _TxLogBatchReader(table.schema_at(), {"path": table.path})
    n_all = len(reader.partitions())
    unhandled = reader.pushFilters([EqualTo(("k",), 150)])
    assert list(unhandled)  # every filter reported back for row-level re-apply
    n_pruned = len(reader.partitions())
    assert n_pruned < n_all
    # end-to-end: the filtered scan is still row-exact
    df = (
        table.spark.read.format("txlog")
        .option("path", table.path)
        .load()
        .filter(F.col("k") == 150)
    )
    assert [r.v for r in df.collect()] == [1500]


def test_filter_translation_keeps_only_prunable_shapes():
    preds = _to_predicates(
        [EqualTo(("k",), 1), GreaterThan(("v",), 5), IsNotNull(("k",)),
         EqualTo(("a", "b"), 1)]  # nested path: not prunable
    )
    assert preds == [("k", "=", 1), ("v", ">", 5)]


def test_schema_evolution_pads_old_files(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "evo"))
    t.commit(_kv(spark, 0, 10))
    t.commit(_kv(spark, 10, 20).withColumn("tag", F.lit("new")))
    register_txlog_source(spark)
    df = spark.read.format("txlog").option("path", t.path).load()
    rows = {r.k: r.tag for r in df.collect()}
    assert rows[5] is None and rows[15] == "new"


def _drain(spark, path, out_dir, checkpoint, **opts):
    """Run the stream to exhaustion into a parquet file sink (the one
    built-in sink that recovers from a checkpoint, which the restart
    tests need) and return the accumulated output."""
    reader = spark.readStream.format("txlog").option("path", path)
    for k, v in opts.items():
        reader = reader.option(k, v)
    sdf = reader.load()
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.read.schema(sdf.schema).parquet(out_dir)


def test_stream_full_history_then_incremental(spark, tmp_path):
    """First run delivers the whole table; after a restart from the same
    checkpoint only NEW commits are delivered — exactly-once across the
    restart because offsets are committed versions."""
    t = TxTable(spark, str(tmp_path / "s"))
    t.commit(_kv(spark, 0, 50))
    t.commit(_kv(spark, 50, 80))
    register_txlog_source(spark)
    cp = str(tmp_path / "cp")
    out = _drain(spark, t.path, str(tmp_path / "out"), cp)
    assert out.count() == 80
    t.commit(_kv(spark, 80, 90))
    out = _drain(spark, t.path, str(tmp_path / "out"), cp)
    # file sink accumulates across the two runs on the same checkpoint
    assert out.count() == 90
    assert sorted(r.k for r in out.collect()) == list(range(90))


def test_stream_starting_version_latest(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "tail"))
    t.commit(_kv(spark, 0, 50))
    register_txlog_source(spark)
    cp = str(tmp_path / "cp")
    out = _drain(spark, t.path, str(tmp_path / "out"), cp, startingVersion="latest")
    assert out.count() == 0  # nothing after stream start yet
    t.commit(_kv(spark, 50, 60))
    out = _drain(spark, t.path, str(tmp_path / "out"), cp)
    assert sorted(r.k for r in out.collect()) == list(range(50, 60))


def test_stream_rejects_non_append_commits(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "rm"))
    t.commit(_kv(spark, 0, 50))
    t.delete(where=[("k", "<", 10)])
    register_txlog_source(spark)
    q = (
        spark.readStream.format("txlog")
        .option("path", t.path)
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="not append-only"):
        q.awaitTermination(120)


def test_stream_change_feed_delivers_deletes(spark, tmp_path):
    """readChangeFeed=true turns a DELETE commit into tagged delete rows
    (file-granular: the rewritten file's surviving rows re-insert),
    matching TxTable.changes() row-for-row."""
    t = TxTable(spark, str(tmp_path / "cdf"))
    t.commit(_kv(spark, 0, 50))
    t.delete(where=[("k", "<", 10)])
    register_txlog_source(spark)
    out = _drain(
        spark, t.path, str(tmp_path / "out"), str(tmp_path / "cp"), readChangeFeed="true"
    )
    got = [(r.k, r._change_type, r._commit_version) for r in out.collect()]
    batch = [
        (r.k, r._change_type, r._commit_version)
        for r in t.changes(-1).collect()
    ]
    assert sorted(got) == sorted(batch)
    assert {c for _, c, _ in got} == {"insert", "delete"}


def test_lake_stream_table_facade(spark, tmp_path):
    from novlake_spark.lake import Lake

    t = TxTable(spark, str(tmp_path / "fac"))
    t.commit(_kv(spark, 0, 25))
    sdf = Lake(spark).stream_table(t.path)
    assert sdf.isStreaming and set(sdf.columns) == {"k", "v"}
    q = (
        sdf.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.read.schema(sdf.schema).parquet(str(tmp_path / "out")).count() == 25


# -- write path -----------------------------------------------------------


def test_batch_write_interops_with_jvm_table(spark, tmp_path):
    """df.write.format('txlog') publishes a commit the JVM TxTable
    reads, and vice versa — one log, two writers."""
    register_txlog_source(spark)
    path = str(tmp_path / "w")
    _kv(spark, 0, 40).write.format("txlog").option("path", path).mode("append").save()
    t = TxTable(spark, path)
    assert t.versions() == [0]
    assert t.read().count() == 40
    t.commit(_kv(spark, 40, 50))  # JVM append on top of a Python commit
    _kv(spark, 50, 60).write.format("txlog").option("path", path).mode("append").save()
    assert sorted(r.k for r in t.read().collect()) == list(range(60))


def test_batch_write_overwrite_and_stats(spark, tmp_path):
    register_txlog_source(spark)
    path = str(tmp_path / "wo")
    _kv(spark, 0, 40).write.format("txlog").option("path", path).mode("append").save()
    _kv(spark, 0, 10).write.format("txlog").option("path", path).mode(
        "overwrite"
    ).save()
    t = TxTable(spark, path)
    assert t.read().count() == 10
    # executor-computed min/max stats landed in the add actions and are
    # usable by BOTH planners (JVM file skipping and pushFilters)
    adds = t.snapshot_adds()
    assert all("k" in a["stats"] and "v" in a["stats"] for a in adds)
    ks = [a["stats"]["k"] for a in adds]
    assert min(lo for lo, _ in ks) == 0 and max(hi for _, hi in ks) == 9


def test_batch_write_schema_enforcement(spark, tmp_path):
    from novlake_spark.txlog import SchemaMismatch  # noqa: F401

    register_txlog_source(spark)
    path = str(tmp_path / "ws")
    _kv(spark, 0, 10).write.format("txlog").option("path", path).mode("append").save()
    bad = spark.range(5).select(F.col("id").alias("k"))  # missing column v
    with pytest.raises(Exception, match="missing columns"):
        bad.write.format("txlog").option("path", path).mode("append").save()
    # additive superset evolves the schema
    _kv(spark, 10, 20).withColumn("tag", F.lit("x")).write.format("txlog").option(
        "path", path
    ).mode("append").save()
    assert "tag" in TxTable(spark, path).schema_at().fieldNames()


def test_stream_txlog_to_txlog_exactly_once(spark, tmp_path):
    """End-to-end lakehouse pipe: tail table A through the txlog source
    and commit each micro-batch into table B through the txlog sink,
    txn-keyed so a restart never double-delivers."""
    register_txlog_source(spark)
    a = TxTable(spark, str(tmp_path / "a"))
    a.commit(_kv(spark, 0, 30))
    cp = str(tmp_path / "cp")
    b_path = str(tmp_path / "b")

    def pump():
        q = (
            spark.readStream.format("txlog")
            .option("path", a.path)
            .load()
            .writeStream.format("txlog")
            .option("path", b_path)
            .option("txnAppId", "a-to-b")
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    pump()
    b = TxTable(spark, b_path)
    assert sorted(r.k for r in b.read().collect()) == list(range(30))
    a.commit(_kv(spark, 30, 45))
    pump()
    assert sorted(r.k for r in b.read().collect()) == list(range(45))


def test_stream_sink_replayed_batch_is_noop(spark, tmp_path):
    """Simulate Spark replaying a micro-batch after a sink-committed but
    checkpoint-lost crash: same txnAppId+batchId must not double-write."""
    from novlake_spark.sources.txlog_source import _TxLogStreamWriter

    register_txlog_source(spark)
    path = str(tmp_path / "replay")
    _kv(spark, 0, 10).write.format("txlog").option("path", path).mode("append").save()
    t = TxTable(spark, path)
    schema = t.schema_at()
    w = _TxLogStreamWriter(schema, {"path": path, "txnappid": "app"}, "append")
    msgs = [w.write(iter(_kv(spark, 10, 20).toArrow().to_batches()))]
    w.commit(msgs, batchId=7)
    assert t.read().count() == 20
    # replay: new physical files, same (appId, batchId)
    msgs2 = [w.write(iter(_kv(spark, 10, 20).toArrow().to_batches()))]
    w.commit(msgs2, batchId=7)
    assert t.read().count() == 20  # no duplicates
    assert msgs2[0].file not in t.snapshot_files()  # orphan discarded


def test_python_publish_loses_slot_to_jvm_writer(spark, tmp_path):
    """The os seam's hard-link claim and the Hadoop seam's
    rename-no-overwrite contend on the same directory entry — exactly
    one wins a version slot, neither leaves a temp file behind, and the
    next commit lands in the slot after."""
    t = TxTable(spark, str(tmp_path / "race"))
    t.commit(_kv(spark, 0, 5))
    os_fs, hadoop_fs = _OsFS(), _HadoopFS(spark, t.path)

    def slot(v):
        entry = {"version": v, "mode": "append", "add": []}
        return f"{t.path}/_log/{v}.json", json.dumps(entry).encode()

    assert [os_fs.claim(*slot(1)), hadoop_fs.claim(*slot(1))] == [True, False]
    assert [hadoop_fs.claim(*slot(2)), os_fs.claim(*slot(2))] == [True, False]
    assert os.listdir(tmp_path / "race" / "_log" / "_tmp") == []
    assert t.commit(_kv(spark, 5, 10)) == 3  # retries past both taken slots


def test_writer_refuses_constraint_tables(spark, tmp_path):
    register_txlog_source(spark)
    t = TxTable(spark, str(tmp_path / "con"))
    t.commit(_kv(spark, 0, 10))
    t.add_constraint("k_nonneg", "k >= 0")
    with pytest.raises(Exception, match="CHECK constraints"):
        _kv(spark, 10, 20).write.format("txlog").option("path", t.path).mode(
            "append"
        ).save()


def test_writer_bloom_filters_prune_point_lookups(spark, tmp_path):
    """bloomCols on the Python writer produces the same add-action Bloom
    payload as the JVM path — a point lookup on a value no file holds
    plans zero files in BOTH planners."""
    register_txlog_source(spark)
    path = str(tmp_path / "bl")
    evens = spark.range(50).select(
        (F.col("id") * 2).alias("k"), F.col("id").alias("v")
    )  # k = 0,2,...,98 — every odd k is inside [min,max] but absent
    evens.write.format("txlog").option("path", path).option(
        "bloomCols", "k"
    ).mode("append").save()
    t = TxTable(spark, path)
    adds = t.snapshot_adds()
    assert all("bloom" in a and "k" in a["bloom"] for a in adds)
    from novlake_spark.txlog import file_matches

    # odd value inside the files' [min,max] span but never written: only
    # the Bloom filter can prove absence (min/max cannot)
    assert not any(file_matches(a, [("k", "=", 51)]) for a in adds)
    assert any(file_matches(a, [("k", "=", 50)]) for a in adds)
    reader = _TxLogBatchReader(t.schema_at(), {"path": path})
    reader.pushFilters([EqualTo(("k",), 51)])
    assert reader.partitions()[0].path is None  # empty-marker partition


def test_pushed_in_filter_prunes_by_bloom(spark, tmp_path):
    """IN-list pushdown: a file is kept only if SOME value could be in
    it — with bloom filters, an all-absent IN list prunes every file."""
    from pyspark.sql.datasource import In

    register_txlog_source(spark)
    path = str(tmp_path / "in")
    evens = spark.range(50).select((F.col("id") * 2).alias("k"), F.col("id").alias("v"))
    evens.write.format("txlog").option("path", path).option("bloomCols", "k").mode(
        "append"
    ).save()
    t = TxTable(spark, path)
    reader = _TxLogBatchReader(t.schema_at(), {"path": path})
    reader.pushFilters([In(("k",), (51, 53, 55))])  # in-range, all absent
    assert reader.partitions()[0].path is None
    reader2 = _TxLogBatchReader(t.schema_at(), {"path": path})
    reader2.pushFilters([In(("k",), (51, 48))])  # 48 present: files stay
    assert reader2.partitions()[0].path is not None
    # end-to-end row-exactness
    df = (
        spark.read.format("txlog")
        .option("path", path)
        .load()
        .filter(F.col("k").isin(51, 48))
    )
    assert [r.k for r in df.collect()] == [48]


def test_batch_timestamp_as_of_option(spark, tmp_path):
    import time

    register_txlog_source(spark)
    t = TxTable(spark, str(tmp_path / "ts"))
    t.commit(_kv(spark, 0, 10))
    time.sleep(0.05)
    between = int(time.time() * 1000)
    time.sleep(0.05)
    t.commit(_kv(spark, 10, 30))
    df = (
        spark.read.format("txlog")
        .option("path", t.path)
        .option("timestampMs", str(between))
        .load()
    )
    assert df.count() == 10


def test_stateful_aggregation_over_txlog_stream(spark, tmp_path):
    """Watermarked tumbling-window aggregation over the txlog source,
    written exactly-once into a txlog sink — the full lakehouse
    streaming pipeline with Spark's stateful operators in the middle."""
    import datetime

    from pyspark.sql import functions as SF

    t = TxTable(spark, str(tmp_path / "ev"))
    base = datetime.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (base + datetime.timedelta(minutes=m), f"u{(m // 10) % 2}", float(m))
        for m in range(0, 120, 10)
    ]
    t.commit(spark.createDataFrame(rows, "ts timestamp, user string, v double"))
    register_txlog_source(spark)
    out_path = str(tmp_path / "agg")

    def pump():
        q = (
            spark.readStream.format("txlog")
            .option("path", t.path)
            .load()
            .withWatermark("ts", "30 minutes")
            .groupBy(SF.window("ts", "1 hour"), "user")
            .agg(SF.sum("v").alias("sv"), SF.count("*").alias("n"))
            .select(SF.col("window.start").alias("ws"), "user", "sv", "n")
            .writeStream.format("txlog")
            .option("path", out_path)
            .option("txnAppId", "ev-agg")
            .option("checkpointLocation", str(tmp_path / "cp"))
            .outputMode("append")
            .start()
        )
        # continuous micro-batches + processAllAvailable so the no-data
        # batch that flushes watermark-closed windows actually runs
        # (availableNow's single-batch fallback skips it)
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(60)

    pump()
    # append mode emits a window only after the watermark passes its
    # end; a later event advances it, and the NEXT batch flushes
    t.commit(
        spark.createDataFrame(
            [(base + datetime.timedelta(hours=5), "u0", 1.0)],
            "ts timestamp, user string, v double",
        )
    )
    pump()
    pump()  # flush batch: state closed by the advanced watermark emits
    got = {
        (r.ws.isoformat(), r.user): (r.sv, r.n)
        for r in TxTable(spark, out_path).read().collect()
    }
    oracle = {
        ("2026-01-01T12:00:00", "u0"): (0 + 20 + 40, 3),
        ("2026-01-01T12:00:00", "u1"): (10 + 30 + 50, 3),
        ("2026-01-01T13:00:00", "u0"): (60 + 80 + 100, 3),
        ("2026-01-01T13:00:00", "u1"): (70 + 90 + 110, 3),
    }
    assert got == {(k, u): (float(sv), n) for (k, u), (sv, n) in oracle.items()}
