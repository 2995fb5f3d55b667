"""J8: durable streaming sink — parquet + checkpoint gives exactly-once
across query restarts (the property the reference's append-only S3
model cannot offer)."""

import pyspark.sql.functions as F

from novlake_spark.sources.tables import load_table


def test_parquet_sink_exactly_once_across_restart(spark, sf_small, tmp_path):
    events = load_table(spark, sf_small, "events")
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    events.limit(300).repartition(3).write.parquet(src)

    def run_query():
        stream = spark.readStream.schema(events.schema).option("maxFilesPerTrigger", "2").parquet(src)
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_query()
    first = spark.read.parquet(sink).count()
    # restart with the same checkpoint: no new source data -> no new rows,
    # no duplicates (offsets are committed in the checkpoint log)
    run_query()
    assert spark.read.parquet(sink).count() == first == 300

    # new data arrives -> only the delta is appended
    events.limit(350).exceptAll(events.limit(300)).write.mode("append").parquet(src)
    run_query()
    assert spark.read.parquet(sink).count() == 350
    # content equality, not just counts
    sunk = {r.event_id for r in spark.read.parquet(sink).select("event_id").collect()}
    want = {r.event_id for r in events.limit(350).select("event_id").collect()}
    assert sunk == want


def test_streaming_cdc_upsert_via_foreachbatch_merge(spark, sf_small, tmp_path):
    """Streaming CDC: a change-stream upserted into a lake table with
    foreachBatch + Lake.merge_into — per-user latest state, the classic
    Delta `MERGE` streaming pattern on the plain-Parquet merge."""
    from novlake_spark.lake import Lake

    lake = Lake(spark)
    target = str(tmp_path / "state")
    spark.createDataFrame(
        [(-1, "seed", 0.0)], "user_id long, event_type string, value double"
    ).write.parquet(target)

    events = load_table(spark, sf_small, "events")
    changes = (
        events.limit(200)
        .groupBy("user_id")
        .agg(F.max_by("event_type", "ts").alias("event_type"), F.round(F.sum("value"), 2).alias("value"))
    )
    src = str(tmp_path / "changes")
    changes.repartition(2).write.parquet(src)

    def upsert(batch_df, batch_id):
        lake.merge_into(batch_df, "user_state", target, key=["user_id"])

    q = (
        spark.readStream.schema(changes.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    final = spark.read.parquet(target)
    # expected = what was actually written to src (limit() without an
    # order is not stable across re-computation), plus the seed row
    want = spark.read.parquet(src).count() + 1
    assert final.count() == want
    assert final.filter(F.col("user_id") == -1).first().event_type == "seed"
    # keys are unique after repeated merges (upsert, not append)
    assert final.select("user_id").distinct().count() == want


def test_stream_to_txtable_to_incremental_view_e2e(spark, sf_small, tmp_path):
    """End-to-end exactly-once pipeline: events stream → txn-keyed
    TxTable commits (replays are no-ops) → IncrementalAggView refresh
    per batch. The final view must equal a from-scratch recompute of
    the source table, and a full query restart must change nothing."""
    from novlake_spark.mview import IncrementalAggView
    from novlake_spark.txlog import TxTable

    events = load_table(spark, sf_small, "events")
    src = str(tmp_path / "src")
    events.limit(300).select("event_id", "user_id", "value").repartition(3).write.parquet(src)

    table = TxTable(spark, str(tmp_path / "tx"))
    view = IncrementalAggView(
        table,
        str(tmp_path / "mv"),
        keys=["user_id"],
        measures={"n": ("count",), "total": ("sum", "value")},
    )

    def sink(batch_df, batch_id):
        table.commit(batch_df, txn=f"e2e.{batch_id}")  # replay-safe
        view.refresh()

    def run():
        schema = "event_id long, user_id long, value double"
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    assert table.read().count() == 300

    def recompute():
        return {
            r.user_id: (r.n, round(r.total, 6))
            for r in table.read().groupBy("user_id").agg(
                F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")
            ).collect()
        }

    def view_state():
        return {r.user_id: (r.n, round(r.total, 6)) for r in view.read().collect()}

    assert view_state() == recompute()
    versions_before = table.latest_version()
    # restart the whole query from the same checkpoint: nothing re-lands
    run()
    assert table.latest_version() == versions_before
    assert table.read().count() == 300
    assert view_state() == recompute()


def test_txtable_upsert_sink_exactly_once(spark, sf_small, tmp_path):
    """streaming/sinks.txtable_upsert_sink: per-key latest state through
    txn-keyed MERGE — a deliberately double-invoked batch (the
    foreachBatch at-least-once failure mode) leaves table state
    unchanged. A second query stays active during the run: the txn
    keys must still come from the given app id, not from a guess that
    changes across restarts when several streams run."""
    from novlake_spark.streaming.sinks import txtable_upsert_sink
    from novlake_spark.txlog import TxTable

    events = load_table(spark, sf_small, "events")
    changes = events.limit(200).groupBy("user_id").agg(
        F.round(F.sum("value"), 2).alias("value")
    )
    src = str(tmp_path / "changes")
    changes.repartition(3).write.parquet(src)
    target = str(tmp_path / "state")

    sink = txtable_upsert_sink(target, key=["user_id"], txn_app="state-upsert")

    def replaying_sink(batch_df, batch_id):
        sink(batch_df, batch_id)
        if batch_id == 1:
            sink(batch_df, batch_id)  # simulate post-failure replay

    other = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt_other"))
        .start()
    )
    try:
        q = (
            spark.readStream.schema(changes.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(replaying_sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        other.stop()

    t = TxTable(spark, target)
    final = t.read()
    want = spark.read.parquet(src).select("user_id").distinct().count()
    assert final.count() == want  # no replay duplicates
    assert final.select("user_id").distinct().count() == want
    # the replayed batch produced NO extra commit
    txns = t.txn_versions()
    assert len(txns) == t.latest_version() + 1
    assert txns and all(k.startswith("state-upsert.") for k in txns), txns
