"""Change data feed, incremental reads, Z-order optimize
(novlake_spark.txlog) and incremental materialized aggregate views
(novlake_spark.mview)."""

from collections import Counter

import pytest
import pyspark.sql.functions as F

from novlake_spark.mview import IncrementalAggView
from novlake_spark.sources.txlog_source import register_txlog_source
from novlake_spark.txlog import TxTable


def _df(spark, *rows):
    return spark.createDataFrame(list(rows), "k long, v long")


def _changes(t, lo, hi=None):
    rows = t.changes(lo, hi).collect()
    return sorted((r.k, r.v, r._change_type, r._commit_version) for r in rows)


# ---------------------------------------------------------------- changes()

def test_changes_appends_are_inserts(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, (1, 10)))
    t.commit(_df(spark, (2, 20)))
    assert _changes(t, -1) == [
        (1, 10, "insert", 0),
        (2, 20, "insert", 1),
    ]
    # half-open range: (0, 1] sees only the second commit
    assert _changes(t, 0) == [(2, 20, "insert", 1)]


def test_changes_merge_is_delete_plus_insert(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, (1, 10), (2, 20)))
    t.merge(_df(spark, (2, 99)), key=["k"])
    ch = _changes(t, 0)
    # the rewritten file's rows re-deliver: delete old copies, insert the
    # merged set (k=1 carried through the rewrite, k=2 updated)
    assert (2, 20, "delete", 1) in ch
    assert (2, 99, "insert", 1) in ch
    # applying the feed to the pre-image reproduces the post-image
    net = {}
    for k, v, typ, _ in ch:
        net[(k, v)] = net.get((k, v), 0) + (1 if typ == "insert" else -1)
    before = {(r.k, r.v) for r in t.read(version=0).collect()}
    applied = (before - {kv for kv, n in net.items() if n < 0}) | {
        kv for kv, n in net.items() if n > 0
    }
    assert applied == {(r.k, r.v) for r in t.read().collect()}


def test_changes_overwrite_deletes_previous_snapshot(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, (1, 10), (2, 20)))
    t.commit(_df(spark, (3, 30)), mode="overwrite")
    assert _changes(t, 0) == [
        (1, 10, "delete", 1),
        (2, 20, "delete", 1),
        (3, 30, "insert", 1),
    ]


def test_changes_after_vacuum_raises(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, (1, 10)))
    t.commit(_df(spark, (2, 20)))
    cv = t.compact()
    t.vacuum(keep_from_version=cv, retain_ms=0)
    with pytest.raises(FileNotFoundError, match="vacuum"):
        t.changes(-1).collect()
    # above the vacuum horizon the feed still serves
    assert t.changes(cv).count() == 0  # empty range, schema intact
    t.commit(_df(spark, (9, 90)))
    assert _changes(t, cv) == [(9, 90, "insert", cv + 1)]


def test_changes_over_restore_count_each_file_once(spark, tmp_path):
    """insert, insert, overwrite, restore(1): the restore re-adds both
    inserts' files, so the window (0, 3] holds v1's files at two
    versions. Batch and stream feeds must deliver them once per version
    (insert@1 = 2 rows, insert@3 = 4) — not re-read each file per
    version that added it and then fan every copy out to every version."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, (0, 0), (1, 10)))
    t.commit(_df(spark, (2, 20), (3, 30)))
    t.commit(_df(spark, (9, 90)), mode="overwrite")
    t.restore(1)
    want = {
        ("insert", 1): 2,
        ("delete", 2): 4,
        ("insert", 2): 1,
        ("delete", 3): 1,
        ("insert", 3): 4,
    }
    batch = Counter((r._change_type, r._commit_version) for r in t.changes(0).collect())
    assert batch == want
    register_txlog_source(spark)
    out = str(tmp_path / "out")
    (
        spark.readStream.format("txlog")
        .option("path", t.path)
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    stream = Counter(
        (r._change_type, r._commit_version) for r in spark.read.parquet(out).collect()
    )
    assert stream == want


# ---------------------------------------------------------- read_incremental

def test_read_incremental_delivers_each_append_once(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, (1, 10)))
    df, v = t.read_incremental(None)
    assert v == 0 and sorted(r.k for r in df.collect()) == [1]
    df, v2 = t.read_incremental(v)
    assert df is None and v2 == 0  # nothing new
    t.commit(_df(spark, (2, 20)))
    t.commit(_df(spark, (3, 30)))
    df, v3 = t.read_incremental(v)
    assert v3 == 2 and sorted(r.k for r in df.collect()) == [2, 3]


def test_read_incremental_rejects_non_append(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, (1, 10), (2, 20)))
    t.merge(_df(spark, (2, 99)), key=["k"])
    with pytest.raises(ValueError, match="append-only"):
        t.read_incremental(0)
    df, v = t.read_incremental(0, ignore_changes=True)
    assert v == 1 and (2, 99) in {(r.k, r.v) for r in df.collect()}


# ------------------------------------------------------------------ optimize

def test_optimize_zorder_skips_on_both_columns(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    n = 4096
    base = spark.range(n).select(
        F.col("id").alias("x"),
        # decorrelated second dimension: bit-reversed-ish permutation
        ((F.col("id") * 2654435761) % n).alias("y"),
        F.col("id").alias("payload"),
    )
    # 16 files, each spanning (almost) the full x and y range
    t.commit(base.repartition(16))
    full = t.scan_plan([("x", "<", 256)])
    assert full["scanned"] == full["total"] == 16  # no locality yet
    t.optimize(zorder_by=["x", "y"], target_files=16)
    px = t.scan_plan([("x", "<", 256)])
    py = t.scan_plan([("y", "<", 256)])
    # 1/16 selectivity on a 4x4 z-grid should touch ~1/4 of files on
    # EITHER dimension; assert a loose bound (strictly fewer than half)
    assert px["total"] == 16
    assert px["scanned"] <= 8 and py["scanned"] <= 8
    # row-level results unchanged
    assert t.read().count() == n
    assert t.read(where=[("x", "<", 256)]).count() == 256
    assert t.read(where=[("y", "<", 256)]).count() == 256


def test_optimize_without_zorder_compacts_to_target(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    for i in range(4):
        t.commit(_df(spark, (i, i)))
    t.optimize(target_files=1)
    assert len(t.snapshot_files()) == 1
    assert t.read().count() == 4


# ---------------------------------------------------------------------- mview

def _recompute(src):
    return {
        (r.k,): (r.n, r.s)
        for r in src.read()
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }


def _view_state(view):
    return {(r.k,): (r.n, r.s) for r in view.read().collect()}


def test_mview_tracks_appends_merges_and_deletes(spark, tmp_path):
    src = TxTable(spark, str(tmp_path / "src"))
    view = IncrementalAggView(
        src,
        str(tmp_path / "mv"),
        keys=["k"],
        measures={"n": ("count",), "s": ("sum", "v")},
    )
    src.commit(_df(spark, (1, 10), (1, 20), (2, 5)))
    assert view.refresh() is not None
    assert _view_state(view) == _recompute(src) == {(1,): (2, 30), (2,): (1, 5)}

    src.commit(_df(spark, (2, 7), (3, 1)))
    view.refresh()
    assert _view_state(view) == _recompute(src)

    # upsert (delete+insert through the feed)
    src.merge(_df(spark, (1, 100)), key=["k"])
    view.refresh()
    assert _view_state(view) == _recompute(src) == {(1,): (1, 100), (2,): (2, 12), (3,): (1, 1)}

    # group death: delete every k=2 row -> group disappears, not zeroed
    src.merge(_df(spark, (2, 0)), key=["k"], delete_matched=True)
    view.refresh()
    state = _view_state(view)
    assert state == _recompute(src)
    assert (2,) not in state


def test_mview_refresh_is_idempotent_and_exactly_once(spark, tmp_path):
    src = TxTable(spark, str(tmp_path / "src"))
    view = IncrementalAggView(
        src, str(tmp_path / "mv"), keys=["k"], measures={"n": ("count",), "s": ("sum", "v")}
    )
    src.commit(_df(spark, (1, 10)))
    v1 = view.refresh()
    assert view.refresh() is None  # current -> no-op
    assert _view_state(view) == {(1,): (1, 10)}
    # a replayed refresh of the SAME source version must not double count
    # (txn idempotency): force a second attempt at the same watermark
    marks_before = view.view.txn_versions()
    src2 = TxTable(spark, str(tmp_path / "src"))
    replay = IncrementalAggView(
        src2, str(tmp_path / "mv"), keys=["k"], measures={"n": ("count",), "s": ("sum", "v")}
    )
    assert replay.refresh() is None
    assert view.view.txn_versions() == marks_before


def test_mview_avg_measure(spark, tmp_path):
    src = TxTable(spark, str(tmp_path / "src"))
    view = IncrementalAggView(
        src, str(tmp_path / "mv"), keys=["k"], measures={"m": ("avg", "v")}
    )
    src.commit(_df(spark, (1, 10), (1, 30), (2, 7)))
    view.refresh()
    got = {r.k: r.m for r in view.read().collect()}
    assert got == {1: 20.0, 2: 7.0}
    src.merge(_df(spark, (1, 50)), key=["k"])  # k=1 now a single row, v=50
    view.refresh()
    got = {r.k: r.m for r in view.read().collect()}
    assert got == {1: 50.0, 2: 7.0}


def test_mview_scopes_rewrite_to_overlapping_files(spark, tmp_path):
    """The refresh commit must carry non-overlapping view files by
    reference (remove-list scoping), not rewrite the whole view."""
    src = TxTable(spark, str(tmp_path / "src"))
    view = IncrementalAggView(
        src, str(tmp_path / "mv"), keys=["k"], measures={"n": ("count",), "s": ("sum", "v")}
    )
    # two well-separated key ranges, committed as separate view files
    src.commit(spark.range(100).select(F.col("id").alias("k"), F.lit(1).alias("v")))
    view.refresh()
    src.commit(
        spark.range(10_000, 10_100).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    )
    view.refresh()
    files_before = set(view.view.snapshot_files())
    # touch ONLY the high range
    src.commit(
        spark.range(10_000, 10_050).select(F.col("id").alias("k"), F.lit(5).alias("v"))
    )
    ventry = view.refresh()
    entry = view.view._log.read_entry(ventry)
    # low-range file(s) survived untouched
    assert set(entry["remove"]) < files_before or not entry["remove"]
    survivors = files_before - set(entry["remove"])
    assert survivors
    assert _view_state(view) == _recompute(src)


def test_mview_folds_dv_deletes(spark, tmp_path):
    """A deletion-vector DELETE on the source flows through the change
    feed as signed deltas — the view decrements without a base rescan."""
    import pyspark.sql.functions as F

    from novlake_spark.mview import IncrementalAggView
    from novlake_spark.txlog import TxTable

    src = TxTable(spark, str(tmp_path / "src"))
    src.commit(
        spark.range(100).select(
            (F.col("id") % 4).alias("g"), F.col("id").alias("x")
        )
    )
    view = IncrementalAggView(
        src, str(tmp_path / "mv"), keys=["g"], measures={"sx": ("sum", "x")}
    )
    view.refresh()
    src.delete([("x", "<", 8)], dv=True)  # removes x = 0..7 via DV
    view.refresh()
    got = {r.g: r.sx for r in view.read().collect()}
    expect = {}
    for x in range(8, 100):
        expect[x % 4] = expect.get(x % 4, 0) + x
    assert got == expect


# ----------------------------------------------------------- min/max measures

def _mm_state(view):
    return {r.k: (r.lo, r.hi, r.n) for r in view.read().collect()}


def _mm_recompute(src):
    return {
        r.k: (r.lo, r.hi, r.n)
        for r in src.read()
        .groupBy("k")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"), F.count(F.lit(1)).alias("n"))
        .collect()
    }


def _mm_view(spark, tmp_path, src):
    return IncrementalAggView(
        src,
        str(tmp_path / "mv"),
        keys=["k"],
        measures={"lo": ("min", "v"), "hi": ("max", "v"), "n": ("count",)},
    )


def test_mview_minmax_insert_fold(spark, tmp_path):
    """Insert-only refreshes fold monotonically — and never touch the
    source snapshot (the rescan hook must not fire)."""
    src = TxTable(spark, str(tmp_path / "src"))
    view = _mm_view(spark, tmp_path, src)
    src.commit(_df(spark, (1, 10), (1, 20), (2, 5)))
    view.refresh()
    assert _mm_state(view) == {1: (10, 20, 2), 2: (5, 5, 1)}

    def boom(*a, **kw):  # pragma: no cover - trap
        raise AssertionError("insert-only refresh rescanned the source")

    view._recompute = boom
    src.commit(_df(spark, (1, 3), (2, 50), (3, 7)))  # new min, new max, new group
    view.refresh()
    assert _mm_state(view) == _mm_recompute(src) == {
        1: (3, 20, 3), 2: (5, 50, 2), 3: (7, 7, 1),
    }


def test_mview_minmax_nonextremum_delete_folds(spark, tmp_path):
    """A delete strictly inside the group's range (not holding either
    extremum) must fold without a source rescan."""
    src = TxTable(spark, str(tmp_path / "src"))
    view = _mm_view(spark, tmp_path, src)
    src.commit(_df(spark, (1, 10), (1, 15), (1, 20)))
    view.refresh()

    def boom(*a, **kw):  # pragma: no cover - trap
        raise AssertionError("non-extremum delete rescanned the source")

    view._recompute = boom
    src.delete([("v", "=", 15)])  # kills neither min=10 nor max=20
    view.refresh()
    assert _mm_state(view) == {1: (10, 20, 2)}


def test_mview_minmax_extremum_death_rescans_scoped(spark, tmp_path):
    """Deleting a group's extremum recomputes THAT group (and only
    that group) from the source; untouched groups keep folding."""
    src = TxTable(spark, str(tmp_path / "src"))
    view = _mm_view(spark, tmp_path, src)
    src.commit(_df(spark, (1, 10), (1, 20), (2, 5), (2, 9)))
    view.refresh()
    seen = []
    orig = view._recompute

    def spy(version, group_keys):
        seen.append(sorted(r.k for r in group_keys.collect()))
        return orig(version, group_keys)

    view._recompute = spy
    src.delete([("v", "=", 20)])  # kills group 1's max only
    view.refresh()
    assert seen == [[1]]
    assert _mm_state(view) == _mm_recompute(src) == {1: (10, 10, 1), 2: (5, 9, 2)}


def test_mview_minmax_inwindow_churn_not_resurrected(spark, tmp_path):
    """A row inserted AND deleted between refreshes (churn) must not
    surface in the folded extremum — the trap that makes a naive
    insert-side fold wrong even though the group's live extrema never
    changed."""
    src = TxTable(spark, str(tmp_path / "src"))
    view = _mm_view(spark, tmp_path, src)
    src.commit(_df(spark, (1, 10), (1, 20)))
    view.refresh()
    src.commit(_df(spark, (1, 1), (1, 99)))  # would-be new min AND max...
    src.delete([("v", "=", 1)])
    src.delete([("v", "=", 99)])             # ...both dead in-window
    view.refresh()
    assert _mm_state(view) == _mm_recompute(src) == {1: (10, 20, 2)}


def test_mview_minmax_first_refresh_with_churn(spark, tmp_path):
    """The very first refresh can already contain deletes (source
    predates the view): the fold/rescan machinery must run against the
    empty initial state instead of trusting insert-side extrema."""
    src = TxTable(spark, str(tmp_path / "src"))
    src.commit(_df(spark, (1, 10), (1, 2), (2, 5)))
    src.delete([("v", "=", 2)])  # group 1's min dead BEFORE the view exists
    view = _mm_view(spark, tmp_path, src)
    view.refresh()
    assert _mm_state(view) == _mm_recompute(src) == {1: (10, 10, 1), 2: (5, 5, 1)}


def test_mview_minmax_null_key_rescan_keeps_group(spark, tmp_path):
    """ADVICE r9: _recompute's semi join must be null-safe (eqNullSafe,
    like the fold join) — with a plain EqualTo on=keys condition, a NULL
    group key flagged for rescan never matches and the group silently
    drops from the view even though it still has live rows."""
    src = TxTable(spark, str(tmp_path / "src"))
    view = _mm_view(spark, tmp_path, src)
    src.commit(
        spark.createDataFrame([(None, 10), (None, 20), (1, 5)], "k long, v long")
    )
    view.refresh()
    assert _mm_state(view) == {None: (10, 20, 2), 1: (5, 5, 1)}
    src.delete([("v", "=", 20)])  # kills the NULL group's max → rescan
    view.refresh()
    assert _mm_state(view) == _mm_recompute(src) == {
        None: (10, 10, 1),
        1: (5, 5, 1),
    }


def test_mview_minmax_group_death(spark, tmp_path):
    src = TxTable(spark, str(tmp_path / "src"))
    view = _mm_view(spark, tmp_path, src)
    src.commit(_df(spark, (1, 10), (2, 7)))
    view.refresh()
    src.delete([("k", "=", 2)])
    view.refresh()
    state = _mm_state(view)
    assert state == _mm_recompute(src) == {1: (10, 10, 1)}
    assert 2 not in state


def test_mview_minmax_randomized_equivalence(spark, tmp_path):
    """Seeded random insert/delete histories: the incremental view must
    equal the defining aggregate after every refresh cadence."""
    import random

    rng = random.Random(77)
    src = TxTable(spark, str(tmp_path / "src"))
    view = _mm_view(spark, tmp_path, src)
    live = []
    nxt = 0
    for step in range(6):
        n_ops = rng.randint(1, 3)
        for _ in range(n_ops):
            if live and rng.random() < 0.4:
                k, v = live.pop(rng.randrange(len(live)))
                src.delete([("k", "=", k), ("v", "=", v)])
            else:
                rows = []
                for _ in range(rng.randint(1, 4)):
                    rows.append((rng.randint(1, 4), nxt * 10 + rng.randint(0, 9)))
                    nxt += 1  # distinct v per row: deletes stay row-exact
                live.extend(rows)
                src.commit(_df(spark, *rows))
        view.refresh()
        assert _mm_state(view) == _mm_recompute(src), f"diverged at step {step}"


def test_mview_refresh_of_one_append_takes_bounds_from_the_log(spark, tmp_path):
    """A sum/count refresh of one append scopes the view rewrite with
    the change units' file stats, not a bounds aggregate over the
    delta: 4 Spark jobs, against 7 with the aggregate."""
    src = TxTable(spark, str(tmp_path / "src"))
    view = IncrementalAggView(
        src, str(tmp_path / "mv"), keys=["k"], measures={"n": ("count",), "s": ("sum", "v")}
    )
    src.commit(spark.range(200).select((F.col("id") % 7).alias("k"), F.col("id").alias("v")))
    view.refresh()
    src.commit(spark.range(200, 300).select((F.col("id") % 7).alias("k"), F.col("id").alias("v")))
    sc = spark.sparkContext
    sc.setJobGroup("append-refresh", "refresh one append")
    try:
        view.refresh()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("append-refresh")) == 4
    assert _view_state(view) == _recompute(src)


def test_mview_null_group_keys_match_pandas_across_refreshes(spark, tmp_path):
    """Null group keys reach the view through the log's null counts:
    after every refresh the view equals a pandas group-by that keeps
    the null group."""
    src = TxTable(spark, str(tmp_path / "src"))
    view = IncrementalAggView(
        src, str(tmp_path / "mv"), keys=["k"], measures={"n": ("count",), "s": ("sum", "v")}
    )

    def expect():
        pdf = src.read().toPandas()
        g = pdf.groupby("k", dropna=False).agg(n=("v", "size"), s=("v", "sum")).reset_index()
        return {
            (None if k != k else int(k),): (int(n), int(s))
            for k, n, s in g.itertuples(index=False)
        }

    steps = [
        lambda: src.commit(_df(spark, (1, 10), (2, 5))),
        lambda: src.commit(_df(spark, (None, 7), (3, 1))),
        lambda: src.commit(_df(spark, (None, 2))),
        lambda: src.merge(_df(spark, (3, 9)), key=["k"]),
        lambda: src.delete([("v", "=", 7)], dv=True),
        lambda: src.commit(_df(spark, (2, 4))),
    ]
    for step in steps:
        step()
        view.refresh()
        assert _view_state(view) == expect()
    assert (None,) in _view_state(view)
