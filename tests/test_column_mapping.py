"""Column mapping + RENAME COLUMN on the transaction log (Delta's
nameMapping flavor): stable physical names in files and stats keys,
logical names on the API surface, protocol-gated."""

import pytest

from novlake_spark.sources.txlog_source import register_txlog_source
from novlake_spark.txlog import LogReader, TxTable


def _kv(spark, lo, hi):
    return spark.createDataFrame([(i, i * 10) for i in range(lo, hi)], "k long, v long")


def test_enable_bumps_protocol_and_keeps_reads(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.commit(_kv(spark, 0, 10))
    t.enable_column_mapping()
    assert t.protocol() == {"min_reader": 2, "min_writer": 2}
    assert sorted(r.k for r in t.read().collect()) == list(range(10))
    # idempotent
    v = t.latest_version()
    assert t.enable_column_mapping() == v


def test_rename_is_metadata_only_and_spans_old_and_new_files(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.commit(_kv(spark, 0, 10))
    t.enable_column_mapping()
    t.rename_column("v", "value")
    assert t.schema_at().fieldNames() == ["k", "value"]
    rows = {r.k: r.value for r in t.read().collect()}
    assert rows[3] == 30  # pre-rename file reads under the new name
    # new writes land under the new logical name, same physical file name
    t.commit(spark.createDataFrame([(100, 1000)], "k long, value long"))
    rows = {r.k: r.value for r in t.read().collect()}
    assert rows[100] == 1000 and rows[3] == 30
    # time travel shows the schema AS OF that version
    assert "v" in t.read(version=0).columns
    # stats stay keyed by the stable physical name → pruning works on
    # the NEW logical name across files written before AND after
    plan = t.scan_plan([("k", ">=", 0)])
    assert plan["scanned"] == plan["total"]
    assert t.scan_plan([("value", ">=", 1000)])["scanned"] >= 1
    with_pruned = t.scan_plan([("value", ">", 10_000)])
    assert with_pruned["scanned"] == 0  # nothing that large anywhere


def test_dml_on_renamed_column(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.commit(_kv(spark, 0, 20))
    t.enable_column_mapping()
    t.rename_column("v", "value")
    t.delete([("value", ">=", 150)])
    assert t.read().count() == 15
    t.update({"value": "value + 1"}, where=[("k", "=", 0)])
    assert {r.value for r in t.read(where=[("k", "=", 0)]).collect()} == {1}
    # merge-on-read UPDATE via deletion vectors on the mapped table
    t.update({"value": "value + 5"}, where=[("k", "=", 1)], dv=True)
    assert {r.value for r in t.read(where=[("k", "=", 1)]).collect()} == {15}
    assert any(a.get("dv") for a in t.snapshot_adds())


def test_drop_then_readd_never_resurrects(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.commit(_kv(spark, 0, 5))
    t.enable_column_mapping()
    t.drop_column("v")
    t.add_column("v", "long")  # same logical name, FRESH physical id
    vals = [r.v for r in t.read().collect()]
    assert vals == [None] * 5  # old bytes stay buried
    t.commit(spark.createDataFrame([(9, 99)], "k long, v long"))
    rows = {r.k: r.v for r in t.read().collect()}
    assert rows[9] == 99 and rows[0] is None


def test_rename_guards(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.commit(_kv(spark, 0, 3))
    with pytest.raises(ValueError, match="column mapping"):
        t.rename_column("v", "value")  # not enabled
    t.enable_column_mapping()
    with pytest.raises(KeyError):
        t.rename_column("nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("v", "k")
    t.add_constraint("v_pos", "v >= 0")
    with pytest.raises(ValueError, match="constraint"):
        t.rename_column("v", "value")
    t.drop_constraint("v_pos")
    t.rename_column("v", "value")  # now fine


def test_evolution_append_preserves_mapping(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.commit(_kv(spark, 0, 4))
    t.enable_column_mapping()
    t.rename_column("v", "value")
    # additive evolution through a plain append (extra column)
    t.commit(
        spark.createDataFrame([(50, 500, "x")], "k long, value long, tag string")
    )
    assert t.schema_at().fieldNames() == ["k", "value", "tag"]
    rows = {r.k: (r.value, r.tag) for r in t.read().collect()}
    assert rows[1] == (10, None) and rows[50] == (500, "x")
    # the renamed field still reads its stable physical name afterwards
    t.rename_column("tag", "label")
    assert {r.label for r in t.read(where=[("k", "=", 50)]).collect()} == {"x"}


def test_identity_on_mapped_table(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.set_identity("id")
    t.commit(spark.createDataFrame([(1,)], "x long"))
    t.enable_column_mapping()
    t.commit(spark.createDataFrame([(2,)], "x long"))
    ids = [r.id for r in t.read().collect()]
    assert len(set(ids)) == 2  # allocation + watermark work through mapping
    assert t.identity()["id"] == max(ids)


def test_python_source_reads_mapped_table(spark, tmp_path):
    register_txlog_source(spark)
    t = TxTable(spark, str(tmp_path / "t"))
    t.commit(_kv(spark, 0, 10))
    t.enable_column_mapping()
    t.rename_column("v", "value")
    t.commit(spark.createDataFrame([(77, 770)], "k long, value long"))
    df = spark.read.format("txlog").option("path", str(tmp_path / "t")).load()
    assert df.columns == ["k", "value"]
    rows = {r.k: r.value for r in df.collect()}
    assert rows[3] == 30 and rows[77] == 770
    # pushed point-lookup on the renamed column still prunes via the
    # physically-keyed stats
    hit = (
        spark.read.format("txlog").option("path", str(tmp_path / "t")).load()
        .filter("value = 770")
        .collect()
    )
    assert [r.k for r in hit] == [77]
    # the Python writer refuses mapped tables
    with pytest.raises(Exception, match="column mapping"):
        (
            df.write.format("txlog")
            .option("path", str(tmp_path / "t"))
            .mode("append")
            .save()
        )
    assert LogReader(str(tmp_path / "t")).state()  # still resolvable


def test_stream_source_reads_mapped_table(spark, tmp_path):
    """The streaming source delivers LOGICAL column names over files
    written before and after a rename (physical names stable)."""
    register_txlog_source(spark)
    t = TxTable(spark, str(tmp_path / "t"))
    t.commit(_kv(spark, 0, 10))
    t.enable_column_mapping()
    t.rename_column("v", "value")
    t.commit(spark.createDataFrame([(50, 500)], "k long, value long"))
    sdf = (
        spark.readStream.format("txlog").option("path", t.path).load()
    )
    assert sdf.columns == ["k", "value"]
    q = (
        sdf.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.read.schema(sdf.schema).parquet(str(tmp_path / "out"))
    rows = {r.k: r.value for r in out.collect()}
    assert rows[3] == 30 and rows[50] == 500 and len(rows) == 11


def test_mapping_survives_checkpoint_and_clean_log(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.commit(_kv(spark, 0, 6))
    t.enable_column_mapping()
    t.rename_column("v", "value")
    t.commit(spark.createDataFrame([(60, 600)], "k long, value long"))
    cp = t.checkpoint()
    t.clean_log(cp)
    fresh = TxTable(spark, str(tmp_path / "t"))
    rows = {r.k: r.value for r in fresh.read().collect()}
    assert rows[2] == 20 and rows[60] == 600
    assert fresh.protocol()["min_reader"] == 2
