"""Per-file null counts in the log, and the readers that bound from the
log's file stats instead of running a Spark job: ``unit_bounds`` over
change units (the view refresh and the replica drain), ``optimize``'s
z-order ranks, ``analyze`` retrofits, and the fold's refusal of a
listing torn by a concurrent ``clean_log``."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from novlake_spark.lake import Lake
from novlake_spark.sources.txlog_source import _TxLogBatchWriter
from novlake_spark.txlog import LogReader, TxTable, _OsFS, plan_changes, unit_bounds


def _rows(spark, pairs):
    return spark.createDataFrame(pairs, "k long, v long").coalesce(1)


def _py_append(t, pairs, counted=True):
    """Append through the Python data-source writer, which records
    min/max stats and null counts; ``counted=False`` drops the null
    counts from its add-actions, as in a log written before it kept them."""
    w = _TxLogBatchWriter(t.schema_at(), {"path": t.path}, "append")
    if not counted:
        adds = w._adds
        w._adds = lambda messages: [
            {k: v for k, v in a.items() if k != "nulls"} for a in adds(messages)
        ]
    batch = pa.RecordBatch.from_pydict(
        {"k": [k for k, _ in pairs], "v": [v for _, v in pairs]},
        schema=pa.schema([("k", pa.int64()), ("v", pa.int64())]),
    )
    w.commit([w.write(iter([batch]))])
    return t.latest_version()


def _jobs(spark, name, fn):
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(name))


def test_commit_records_null_counts_from_footer_and_job(spark, tmp_path):
    """The footer path (plain commit) and the job path (a commit with
    Bloom columns) record the same exact ``nulls`` per stat column."""
    pairs = [(1, None), (None, 2), (None, 3), (4, 5)]
    for bloom in ([], ["k"]):
        t = TxTable(spark, str(tmp_path / f"t{len(bloom)}"))
        t.bloom_cols = bloom
        t.commit(_rows(spark, pairs))
        (add,) = t.snapshot_adds()
        assert add["nulls"] == {"k": 2, "v": 1}, bloom
        assert add["stats"]["k"] == [1, 4]


def test_sidecar_carries_nulls_and_an_old_sidecar_reads_as_unknown(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.parquet_checkpoint_rows = 1
    t.commit(_rows(spark, [(1, None), (2, 3)]))
    t.commit(_rows(spark, [(None, 4)]))
    want = t.snapshot_adds()
    cp = t.checkpoint()
    fresh = TxTable(spark, t.path)
    assert sorted(fresh.snapshot_adds(), key=str) == sorted(want, key=str)
    (admitted,) = fresh.scan_adds_distributed([("k", ">=", 0)])  # the all-null file skips
    assert admitted["nulls"] == {"k": 0, "v": 1}
    # a sidecar written before null counts existed has no "nulls" column
    side = os.path.join(t.path, "_log", f"checkpoint-{cp}.parquet")
    pq.write_table(pq.read_table(side).drop(["nulls"]), side)
    old = TxTable(spark, t.path)
    assert all("nulls" not in a for a in old.snapshot_adds())
    (admitted,) = old.scan_adds_distributed([("k", ">=", 0)])
    assert "nulls" not in admitted and admitted["stats"]["k"] == [1, 2]
    assert sorted(old.read().collect(), key=str) == sorted(t.read().collect(), key=str)


def test_analyze_table_retrofits_stats_and_nulls(spark, tmp_path):
    path = str(tmp_path / "t")
    t = TxTable(spark, path)
    t.commit(_rows(spark, [(1, None), (5, 2)]), collect_stats=False)
    (bare,) = t.snapshot_adds()
    assert "stats" not in bare and "nulls" not in bare
    v = Lake(spark).analyze_table(path)
    assert v == t.latest_version() and t._log.read_entry(v)["op"] == "ANALYZE"
    (add,) = t.snapshot_adds()
    assert add["stats"]["k"] == [1, 5] and add["nulls"] == {"k": 0, "v": 1}
    assert Lake(spark).analyze_table(path) == v  # nothing left to do


_ops = st.lists(
    st.tuples(
        st.sampled_from(
            ["append", "append_null", "overwrite", "merge", "delete_dv", "update",
             "restore", "py_append", "py_append_uncounted"]
        ),
        st.integers(0, 9),
    ),
    min_size=1,
    max_size=5,
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_ops, data=st.data())
def test_unit_bounds_cover_the_change_rows(spark, tmp_path_factory, ops, data):
    """For any history and window ``(a, b]``, ``unit_bounds`` over the
    window's change units is sound: a known row answer equals whether
    the feed has a row, ``(lo, hi)`` contains every non-null key of the
    feed, ``nulls == 0`` means no feed key is null, and a window with a
    file lacking null counts (an older log) answers "unknown"."""
    t = TxTable(spark, str(tmp_path_factory.mktemp("ub") / "t"))
    t.commit(_rows(spark, [(k, k) for k in range(4)]))
    for step, (op, x) in enumerate(ops, start=1):
        if op == "append":
            t.commit(_rows(spark, [(x, step), (x + 1, step)]))
        elif op == "append_null":
            t.commit(_rows(spark, [(None, step), (x, step)]))
        elif op == "overwrite":
            t.commit(_rows(spark, [(x, step), (x + 2, step)]), mode="overwrite")
        elif op == "merge":
            t.merge(_rows(spark, [(x, step), (x + 3, step)]), key=["k"])
        elif op == "delete_dv":
            t.delete([("k", "=", x)], dv=True)
        elif op == "update":
            t.update({"v": "v + 1"}, [("k", "=", x)], dv=x % 2 == 0)
        elif op == "restore":
            t.restore(x % (t.latest_version() + 1))
        else:
            _py_append(t, [(x, step), (x + 5, step)], counted=op == "py_append")
    latest = t.latest_version()
    a = data.draw(st.integers(-1, latest - 1), label="a")
    b = data.draw(st.integers(a + 1, latest), label="b")
    units = plan_changes(t._log, a, b)
    has_rows, bounds = unit_bounds(units, "k", t.schema_at(b))
    feed = [r.k for r in t.changes(a, b).collect()]
    if has_rows is not None:
        assert has_rows == bool(feed), (ops, a, b)
    if any("nulls" not in u.add for u in units):
        assert bounds is None
    if bounds is not None:
        lo, hi, nulls = bounds
        keys = [k for k in feed if k is not None]
        assert not keys or lo <= min(keys) <= max(keys) <= hi, (ops, a, b, bounds)
        if nulls == 0:
            assert None not in feed, (ops, a, b)


def test_unit_bounds_counts_deletion_vector_rows(spark, tmp_path):
    """A DV DELETE's units hold exactly the deleted positions; a
    restore of a fully deleted file holds no row."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.commit(_rows(spark, [(1, 1), (2, 2)]))
    t.delete([("k", "<=", 2)], dv=True)  # version 1: both rows, by DV
    t.commit(_rows(spark, [(7, 7)]), mode="overwrite")
    t.restore(1)  # version 3: re-adds the file, every row DV'd
    schema = t.schema_at()
    assert unit_bounds(plan_changes(t._log, 0, 1), "k", schema) == (True, (1, 2, 0))
    assert unit_bounds(plan_changes(t._log, 2, 3), "k", schema)[0] is True  # deletes row 7
    inserts = [u for u in plan_changes(t._log, 2, 3) if u.change_type == "insert"]
    assert unit_bounds(inserts, "k", schema)[0] is False
    assert unit_bounds([], "k", schema) == (False, (None, None, 0))


def test_optimize_takes_zorder_bounds_from_stats(spark, tmp_path):
    """With stats on every live file, ``optimize(zorder_by=…)`` runs no
    bounds aggregate: fewer jobs than the same table without stats (3
    against 5 on a local session: the aggregate is two), and the same
    rows."""

    def table(name, stats):
        t = TxTable(spark, str(tmp_path / name))
        for lo in (0, 50):
            t.commit(
                spark.range(lo, lo + 50).select(
                    F.col("id").alias("x"), (F.col("id") * 7 % 100).alias("y")
                ).coalesce(1),
                collect_stats=stats,
            )
        return t

    with_stats, without = table("s", True), table("n", False)
    n_stats = _jobs(spark, "opt-stats", lambda: with_stats.optimize(zorder_by=["x", "y"]))
    n_bare = _jobs(spark, "opt-bare", lambda: without.optimize(zorder_by=["x", "y"]))
    assert n_stats < n_bare
    assert sorted(with_stats.read().collect()) == sorted(without.read().collect())


class _TornFirstListing(_OsFS):
    """An os seam whose first listing of the log misses the checkpoint,
    as a listing taken in the middle of ``clean_log`` can."""

    def __init__(self, hide):
        self.hide, self.listings = hide, 0

    def listdir(self, path):
        names = super().listdir(path)
        self.listings += 1
        if self.listings == 1:
            names = {n: m for n, m in names.items() if n not in self.hide}
        return names


def test_torn_listing_relists_instead_of_folding_a_partial_tail(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    for lo in range(0, 40, 10):
        t.commit(spark.range(lo, lo + 10).coalesce(1))
    t.checkpoint(2)
    t.clean_log(2)  # leaves checkpoint-2 and entry 3
    fs = _TornFirstListing({"checkpoint-2.json"})
    adds = LogReader(t.path, fs).state()[0]
    assert fs.listings == 2
    assert sorted(a["file"] for a in adds) == sorted(t.snapshot_files())
    assert len(adds) == 4
    with pytest.raises(ValueError, match="not in log"):
        LogReader(t.path).state(1)  # below the horizon still raises clearly


def test_python_writer_source_refreshes_and_replicates_by_the_fallback(spark, tmp_path):
    """Python-writer files without null counts (as in a log written
    before the writer kept them) send the view refresh and the replica
    drain to their Spark job; both still converge on the source. A
    Python-writer file with null counts is bounded from the log."""
    from novlake_spark.mview import IncrementalAggView
    from novlake_spark.replicate import replicate

    src = TxTable(spark, str(tmp_path / "src"))
    src.commit(_rows(spark, [(k, k % 3) for k in range(10)]))
    view = IncrementalAggView(src, str(tmp_path / "mv"), ["v"], {"n": ("count",)})
    dst = TxTable(spark, str(tmp_path / "dst"))

    def tick():
        view.refresh()
        replicate(spark, src.path, dst.path, ["k"], str(tmp_path / "cp"))
        got = {r.v: r.n for r in view.read().collect()}
        want = {r.v: r["count"] for r in src.read().groupBy("v").count().collect()}
        assert got == want
        assert sorted(dst.read().collect()) == sorted(src.read().collect())

    tick()
    _py_append(src, [(20, 1), (21, 5)], counted=False)
    assert unit_bounds(plan_changes(src._log, 0, 1), "k", src.schema_at())[1] is None
    tick()
    _py_append(src, [(3, 9), (30, 9)], counted=False)
    src.merge(_rows(spark, [(3, 2), (31, 0)]), key=["k"])
    tick()
    v = _py_append(src, [(40, None), (41, 2)])
    assert src._log.read_entry(v)["add"][0]["nulls"] == {"k": 0, "v": 1}
    assert unit_bounds(plan_changes(src._log, v - 1, v), "k", src.schema_at()) == (
        True, (40, 41, 0)
    )
    # the drain runs its write alone: no empty-phase guard, no bounds job
    assert _jobs(spark, "py-drain", lambda: replicate(spark, src.path, dst.path, ["k"])) == 1
    tick()
