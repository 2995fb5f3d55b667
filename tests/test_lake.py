"""Lake facade (§2.A) round-trips: write modes, partitioning, formats."""

import os

import pyspark.sql.functions as F
import pytest

from novlake_spark.lake import Lake


@pytest.fixture()
def lake(spark, sf_small):
    lk = Lake(spark)
    lk.attach_dir(sf_small, ["region", "nation", "orders"])
    return lk


def test_query_and_preview(lake):
    df = lake.query("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")
    assert df.count() == 5
    assert lake.preview("nation", 7).count() == 7


def test_tables_and_describe(lake):
    assert {"region", "nation", "orders"} <= set(lake.tables())
    cols = dict(lake.describe("nation"))
    assert cols["n_name"] == "string"


def test_replace_table_roundtrip(lake, tmp_path):
    src = lake.query("SELECT n_nationkey, n_name FROM nation")
    out = lake.replace_table(src, "nation_copy", str(tmp_path / "nation_copy"))
    assert out.count() == 25
    assert "nation_copy" in lake.tables()
    # overwrite replaces, not appends
    lake.replace_table(src.limit(5), "nation_copy", str(tmp_path / "nation_copy"))
    assert lake.query("SELECT count(*) AS n FROM nation_copy").first().n == 5


def test_append(lake, tmp_path):
    src = lake.query("SELECT n_nationkey, n_name FROM nation")
    path = str(tmp_path / "nation_app")
    lake.replace_table(src, "nation_app", path)
    lake.append(src, "nation_app", path)
    assert lake.query("SELECT count(*) AS n FROM nation_app").first().n == 50


def test_partitioned_write_prunes(lake, tmp_path, spark):
    orders = lake.query("SELECT * FROM orders")
    path = str(tmp_path / "orders_part")
    lake.replace_table(
        orders.withColumn("status", F.col("o_orderstatus")),
        "orders_part",
        path,
        partition_by=["status"],
    )
    import os

    assert any(d.startswith("status=") for d in os.listdir(path))
    # partition filter touches only one directory's files
    one = spark.read.parquet(path).filter(F.col("status") == "F")
    assert one.count() == orders.filter(F.col("o_orderstatus") == "F").count()


def test_dynamic_partition_overwrite(lake, tmp_path):
    orders = lake.query("SELECT o_orderkey, o_orderstatus AS status FROM orders")
    path = str(tmp_path / "orders_dyn")
    lake.replace_table(orders, "orders_dyn", path, partition_by=["status"])
    before_f = lake.query("SELECT count(*) n FROM orders_dyn WHERE status='O'").first().n
    # overwrite ONLY the F partition with a single row
    one = lake.query("SELECT o_orderkey, o_orderstatus AS status FROM orders WHERE o_orderstatus='F' LIMIT 1")
    lake.overwrite_partitions(one, "orders_dyn", path, partition_by=["status"])
    assert lake.query("SELECT count(*) n FROM orders_dyn WHERE status='F'").first().n == 1
    assert lake.query("SELECT count(*) n FROM orders_dyn WHERE status='O'").first().n == before_f


def test_csv_json_roundtrip(lake, tmp_path, spark):
    df = lake.query("SELECT n_nationkey, n_name FROM nation")
    csv_path, json_path = str(tmp_path / "n_csv"), str(tmp_path / "n_json")
    lake.dump_csv(df, csv_path)
    back = spark.read.csv(csv_path, header=True, inferSchema=True)
    assert back.count() == 25 and set(back.columns) == {"n_nationkey", "n_name"}
    df.write.mode("overwrite").json(json_path)
    jback = spark.read.json(json_path)
    assert jback.count() == 25


def test_jsonl_export_with_manifest(lake, tmp_path, spark):
    """A9b (round 6): sharded JSONL export — the training-data delivery
    format: gzip line-JSON shards bounded by maxRecordsPerFile, plus a
    _manifest.json contract file (rows, columns, shard list) a loader
    validates against; the exported corpus reads back losslessly."""
    import gzip
    import json
    import os

    df = lake.query("SELECT o_orderkey, o_orderstatus FROM orders")
    n = df.count()
    path = str(tmp_path / "corpus_jsonl")
    man = lake.dump_jsonl(df, path, max_records_per_file=500)
    assert man["n_rows"] == n
    assert set(man["columns"]) == {"o_orderkey", "o_orderstatus"}
    assert man["n_shards"] >= 2  # the per-file cap actually sharded it
    names = {s["name"] for s in man["shards"]}
    on_disk = {f for f in os.listdir(path) if f.startswith("part-")}
    assert names == on_disk
    with open(os.path.join(path, "_manifest.json")) as f:
        assert json.load(f) == man
    # shards are genuinely gzip line-JSON
    one = sorted(names)[0]
    with gzip.open(os.path.join(path, one), "rt") as f:
        rec = json.loads(f.readline())
    assert set(rec) <= {"o_orderkey", "o_orderstatus"}
    # lossless round trip
    back = spark.read.json(path)
    assert back.count() == n


def test_repair_partitions(lake, tmp_path, spark):
    df = lake.query("SELECT o_orderkey, o_orderstatus AS status FROM orders")
    path = str(tmp_path / "orders_rep")
    lake.replace_table(df, "orders_rep", path, partition_by=["status"])
    # new partition dir appears out-of-band (another writer) → repair picks it up
    extra = df.filter("status='F'").limit(3).withColumn("status", F.lit("X"))
    extra.write.mode("append").partitionBy("status").parquet(path)
    lake.repair_partitions("orders_rep", path)
    assert lake.query("SELECT count(*) n FROM orders_rep WHERE status='X'").first().n == 3


def test_merge_into_upserts_and_deletes(spark, tmp_path):
    from novlake_spark.lake import Lake

    lake = Lake(spark)
    path = str(tmp_path / "t")
    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, v string")
    base.write.parquet(path)

    src = spark.createDataFrame([(2, "B"), (4, "d")], "id long, v string")
    out = lake.merge_into(src, "t_merge", path, key=["id"])
    assert sorted(map(tuple, out.collect())) == [(1, "a"), (2, "B"), (3, "c"), (4, "d")]
    # table on disk was really rewritten (not just the view)
    assert sorted(map(tuple, spark.read.parquet(path).collect()))[1] == (2, "B")

    gone = spark.createDataFrame([(1,)], "id long")
    out = lake.merge_into(gone, "t_merge", path, key=["id"], delete_matched=True)
    assert sorted(r.id for r in out.collect()) == [2, 3, 4]


def test_merge_into_partition_scoped_rewrites_only_affected(spark, tmp_path):
    import glob
    import os

    from novlake_spark.lake import Lake

    lake = Lake(spark)
    path = str(tmp_path / "p")
    base = spark.createDataFrame(
        [(1, "en", "a"), (2, "en", "b"), (3, "de", "c"), (4, "fr", "d")],
        "id long, lang string, v string",
    )
    base.write.partitionBy("lang").parquet(path)
    untouched = set(glob.glob(os.path.join(path, "lang=de", "*.parquet")))

    src = spark.createDataFrame([(2, "en", "B"), (5, "fr", "e")], "id long, lang string, v string")
    out = lake.merge_into(src, "p_merge", path, key=["id"], partition_by=["lang"])
    got = sorted((r.id, r.lang, r.v) for r in out.collect())
    assert got == [(1, "en", "a"), (2, "en", "B"), (3, "de", "c"), (4, "fr", "d"), (5, "fr", "e")]
    # de partition files were not rewritten (dynamic overwrite scope)
    assert set(glob.glob(os.path.join(path, "lang=de", "*.parquet"))) == untouched


def test_versioned_writes_time_travel(spark, tmp_path):
    from novlake_spark.lake import Lake

    lake = Lake(spark)
    base = str(tmp_path / "vt")
    v0 = lake.save_version(spark.createDataFrame([(1, "a")], "id long, v string"), "vt", base)
    v1 = lake.save_version(spark.createDataFrame([(1, "a2"), (2, "b")], "id long, v string"), "vt", base)
    assert (v0, v1) == (0, 1)
    assert lake.history(base) == [0, 1]
    assert lake.read_version(base).count() == 2, "default read = latest"
    assert [tuple(r) for r in lake.read_version(base, 0).collect()] == [(1, "a")]
    assert spark.table("vt").count() == 2
    import pytest

    with pytest.raises(ValueError):
        lake.read_version(base, 9)


def test_diff_versions_cdc(spark, tmp_path):
    """CDC between snapshots: insert/delete/update classification with
    the changed row's payload from the correct side."""
    lake = Lake(spark)
    base = str(tmp_path / "cdc")
    v0 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id long, s string, v double"
    )
    v1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 99.0), (4, "d", 40.0)], "id long, s string, v double"
    )
    lake.save_version(v0, "cdc_t", base)
    lake.save_version(v1, "cdc_t", base)
    out = {r.id: r for r in lake.diff_versions(base, key=["id"], v_old=0).collect()}
    assert set(out) == {2, 3, 4}
    assert out[2]._change == "update" and out[2].v == 99.0  # new payload
    assert out[3]._change == "delete" and out[3].v == 30.0  # old payload
    assert out[4]._change == "insert" and out[4].v == 40.0


def test_vacuum_retention(spark, tmp_path):
    lake = Lake(spark)
    base = str(tmp_path / "vac")
    for i in range(4):
        lake.save_version(
            spark.createDataFrame([(i,)], "x long"), "vac_t", base
        )
    assert lake.history(base) == [0, 1, 2, 3]
    removed = lake.vacuum(base, keep_last=2)
    assert removed == [0, 1]
    assert lake.history(base) == [2, 3]
    assert lake.read_version(base, 3).collect()[0].x == 3
    import pytest as _pytest

    with _pytest.raises(ValueError):
        lake.read_version(base, 0)


def test_schema_evolution_append_and_merged_read(spark, tmp_path):
    """Appends may add columns over time; merge_schema reads the union
    with nulls for files that predate a column."""
    lake = Lake(spark)
    path = str(tmp_path / "evolve")
    spark.createDataFrame([(1, "a")], "id long, s string").write.parquet(path)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, s string, score double"
    ).write.mode("append").parquet(path)
    merged = lake.load(path, merge_schema=True)
    assert set(merged.columns) == {"id", "s", "score"}
    rows = {r.id: r for r in merged.collect()}
    assert rows[1].score is None and rows[2].score == 9.5


def test_merge_into_routes_through_txlog_when_target_is_txtable(spark, tmp_path):
    """A transaction-logged target gets MERGE as one atomic remove+add
    commit: no *_old/*_merging prefixes, old snapshot stays readable."""
    import os
    from novlake_spark.lake import Lake

    lake = Lake(spark)
    path = str(tmp_path / "txt")
    t = lake.tx(path)
    t.commit(spark.createDataFrame([(i, "old") for i in range(10)], "id long, v string"))
    src = spark.createDataFrame([(3, "new"), (99, "new")], "id long, v string")
    out = lake.merge_into(src, "tx_merge", path, key=["id"])
    got = {r.id: r.v for r in out.collect()}
    assert len(got) == 11 and got[3] == "new" and got[99] == "new" and got[0] == "old"
    # merged via the log: version advanced, no rename-swap artifacts
    assert len(t.versions()) == 2
    assert not [p for p in os.listdir(tmp_path) if p.endswith(("_old", "_merging"))]
    # time travel to the pre-merge snapshot still works
    assert {r.v for r in t.read(version=0).collect()} == {"old"}


def test_replace_prefix_recovers_from_crash_window(spark, tmp_path):
    """A crash between the two renames strands the table at *_old; the
    next swap must auto-restore instead of failing on a missing live
    prefix (round-2 ADVICE 'low')."""
    import os
    from novlake_spark.lake import Lake

    lake = Lake(spark)
    path = str(tmp_path / "t")
    spark.createDataFrame([(1,)], "x long").write.parquet(path)
    # simulate the crash: live prefix renamed away, swap never finished
    os.rename(path, path + "_old")
    staged = str(tmp_path / "staged")
    spark.createDataFrame([(2,)], "x long").write.parquet(staged)
    lake._replace_prefix(staged, path)
    assert [r.x for r in spark.read.parquet(path).collect()] == [2]
    assert not os.path.exists(path + "_old")


def _kv(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))


def _sorted_rows(t):
    return sorted(tuple(r) for r in t.read().collect())


@pytest.mark.parametrize("dv", [False, True])
def test_txtable_facade_matches_txtable(spark, tmp_path, dv):
    """The Lake methods over a transaction-logged table give what the
    TxTable methods give on a twin table with the same history: return
    values, rows, and the ops recorded in the log."""
    from novlake_spark.txlog import TxTable

    lake = Lake(spark)
    via_lake, twin = (TxTable(spark, str(tmp_path / n)) for n in ("lake", "twin"))
    for t in (via_lake, twin):
        t.commit(_kv(spark, 0, 10).coalesce(1))
        t.commit(_kv(spark, 10, 20).coalesce(1))

    def same(got, want):
        assert got == want
        assert _sorted_rows(via_lake) == _sorted_rows(twin)
        ops = [[t._log.read_entry(v).get("op") for v in t.versions()] for t in (via_lake, twin)]
        assert ops[0] == ops[1]

    same(lake.delete_where(via_lake.path, [("k", "<", 3)], dv=dv),
         twin.delete([("k", "<", 3)], dv=dv))
    assert any("dv" in a for a in via_lake.snapshot_adds()) == dv
    same(lake.update_where(via_lake.path, {"v": "v + 1"}, [("k", ">=", 15)]),
         twin.update({"v": "v + 1"}, [("k", ">=", 15)]))
    lake.attach_tx(via_lake.path, "facade_kv")
    sql = "SELECT k, v FROM facade_kv ORDER BY k"
    got = lake.query_pandas(sql)
    assert got.equals(twin.read().orderBy("k").toPandas())
    assert list(got.k) == list(range(3, 20)) and got.v.iloc[-1] == 191
    same(lake.restore_table(via_lake.path, 1), twin.restore(1))
    clone, twin_clone = (
        lake.clone_table(via_lake.path, str(tmp_path / "lake_clone")),
        twin.clone(str(tmp_path / "twin_clone")),
    )
    assert _sorted_rows(clone) == _sorted_rows(twin_clone) == _sorted_rows(twin)
    assert clone.versions() == twin_clone.versions() == [0]
    # shallow: the clone's adds reference the source's files, none copied
    assert not os.path.exists(os.path.join(clone.path, "data"))


def test_replicate_table_positional_checkpoint_is_ignored(spark, tmp_path):
    """``replicate_table(src, dst, key, checkpoint)`` called positionally
    drains at once and returns a finished handle; ``checkpoint`` is
    never created."""
    from novlake_spark.txlog import TxTable

    src = TxTable(spark, str(tmp_path / "src"))
    src.commit(_kv(spark, 0, 10))
    dst, cp = str(tmp_path / "dst"), str(tmp_path / "cp")
    q = Lake(spark).replicate_table(src.path, dst, ["k"], cp)
    assert q.awaitTermination() is None and q.recentProgress == []
    assert _sorted_rows(TxTable(spark, dst)) == _sorted_rows(src)
    assert not os.path.exists(cp)
