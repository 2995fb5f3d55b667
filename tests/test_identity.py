"""Identity columns on the transaction log (Delta's GENERATED BY
DEFAULT AS IDENTITY): commit-time allocation, watermark folding,
allocation-race conflicts."""

import pytest

from novlake_spark.txlog import CommitConflict, LogReader, TxTable


def _df(spark, *vals):
    return spark.createDataFrame([(v,) for v in vals], "x long")


def test_alloc_on_append_without_column(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.set_identity("id")
    t.commit(_df(spark, 10, 20, 30))
    rows = {r.x: r.id for r in t.read().collect()}
    assert set(rows) == {10, 20, 30}
    ids = list(rows.values())
    assert len(set(ids)) == 3 and min(ids) >= 1  # unique, from start
    assert t.identity()["id"] == max(ids)  # watermark == max allocated
    # second append allocates strictly above the first
    t.commit(_df(spark, 40))
    rows2 = {r.x: r.id for r in t.read().collect()}
    assert rows2[40] > max(ids)
    assert len(set(rows2.values())) == 4


def test_caller_values_kept_and_watermark_advances(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.set_identity("id", start=100)
    df = spark.createDataFrame([(1, 500), (2, 501)], "x long, id long")
    t.commit(df)  # GENERATED BY DEFAULT: explicit values win
    assert {r.id for r in t.read().collect()} == {500, 501}
    assert t.identity()["id"] == 501
    t.commit(_df(spark, 3))  # next allocation starts above 501
    assert min(r.id for r in t.read().filter("x = 3").collect()) > 501


def test_seed_from_existing_column_stats(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, 7), (2, 9)], "x long, id long"))
    t.set_identity("id")
    assert t.identity()["id"] == 9  # seeded from add-action max stats
    t.commit(_df(spark, 3))
    assert min(r.id for r in t.read().filter("x = 3").collect()) > 9


def test_declaration_guards(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, "a")], "x long, s string"))
    with pytest.raises(ValueError, match="BIGINT"):
        t.set_identity("s")
    t.set_identity("id")
    with pytest.raises(ValueError, match="already has identity"):
        t.set_identity("other")
    with pytest.raises(ValueError, match="collect_stats"):
        t.commit(_df(spark, 2), collect_stats=False)


def test_watermark_survives_checkpoint_and_compaction(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.set_identity("id")
    t.commit(_df(spark, 1, 2))
    hw = t.identity()["id"]
    t.compact()  # re-adds old rows; max-fold must not regress the mark
    assert t.identity()["id"] == hw
    cp = t.checkpoint()
    t.clean_log(cp)
    assert t.identity()["id"] == hw
    t.commit(_df(spark, 3))
    assert t.identity()["id"] > hw


def test_allocation_race_conflicts(spark, tmp_path):
    """Two writers allocating from the same watermark cannot both land:
    the one that loses the version race must CONFLICT (its ids are
    baked into files), not blind-retry into the next slot."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.set_identity("id")
    t.commit(_df(spark, 1))
    rival = TxTable(spark, str(tmp_path / "t"))
    real_publish = t._log.publish

    def racy_publish(entry):
        if not racy_publish.raced:
            racy_publish.raced = True
            rival.commit(_df(spark, 100))  # rival allocates + lands first
        return real_publish(entry)

    racy_publish.raced = False
    t._log.publish = racy_publish
    with pytest.raises(CommitConflict, match="identity watermark"):
        t.commit(_df(spark, 2))
    # the table still holds exactly the rival's rows, no orphans
    assert sorted(r.x for r in t.read().collect()) == [1, 100]
    assert len({r.id for r in t.read().collect()}) == 2


def test_python_writer_refuses_identity_tables(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.set_identity("id")
    t.commit(_df(spark, 1))
    assert LogReader(str(tmp_path / "t")).state()[5] == t.identity()
    # the format("txlog") batch writer surfaces the refusal (allocation
    # and watermark advance live in TxTable.commit only)
    from novlake_spark.sources.txlog_source import register_txlog_source

    register_txlog_source(spark)
    with pytest.raises(Exception, match="identity column"):
        (
            t.read()
            .write.format("txlog")
            .option("path", str(tmp_path / "t"))
            .mode("append")
            .save()
        )


def test_concurrent_identity_appends_never_collide(spark, tmp_path):
    """True-thread chaos: N writers allocate concurrently; each either
    lands or raises CommitConflict — and whatever landed holds UNIQUE
    ids. The invariant must hold for every interleaving, so the
    assertion is timing-independent."""
    import threading

    path = str(tmp_path / "t")
    t = TxTable(spark, path)
    t.set_identity("id")
    t.commit(_df(spark, 0))
    landed, conflicts, errors = [], [], []

    def worker(i):
        try:
            TxTable(spark, path).commit(_df(spark, (i + 1) * 10), max_retries=20)
            landed.append(i)
        except CommitConflict as e:
            conflicts.append(e)
        except Exception as e:  # pragma: no cover - failure reporting
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(6)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    assert landed  # at least one allocation won its race
    rows = t.read().collect()
    ids = [r.id for r in rows]
    assert len(ids) == len(set(ids)), ids  # THE invariant: no collisions
    assert len(rows) == 1 + len(landed)
    assert t.identity()["id"] == max(ids)


def test_int_column_rejected(spark, tmp_path):
    """An INT column cannot be an identity column: allocation is
    2^33-partition-offset LongType, so accepting it would either
    overflow or (ADVICE r3) land a LongType allocated column that makes
    every later column-omitting append fail SchemaMismatch."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, 10)], "id int, x long"))
    with pytest.raises(ValueError, match="BIGINT"):
        t.set_identity("id")


def test_concurrent_set_identity_single_winner(spark, tmp_path):
    """Two racing set_identity calls for DIFFERENT columns must not both
    land (ADVICE r3): the loser's in-loop re-read sees the winner."""
    import threading

    t1 = TxTable(spark, str(tmp_path / "t"))
    t1.commit(spark.createDataFrame([(1, 2)], "a long, b long"))
    t2 = TxTable(spark, str(tmp_path / "t"))
    errs = []

    def go(t, col):
        try:
            t.set_identity(col)
        except ValueError as e:
            errs.append(str(e))

    for _ in range(5):
        ths = [threading.Thread(target=go, args=(t1, "a")),
               threading.Thread(target=go, args=(t2, "b"))]
        [th.start() for th in ths]
        [th.join() for th in ths]
        assert len(t1.identity()) == 1, t1.identity()
        if errs:
            assert "identity column" in errs[0]
            break
