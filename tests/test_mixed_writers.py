"""Property test: arbitrary interleavings of JVM (TxTable) and Python
(data-source) writers against ONE transaction log must agree on every
snapshot — same versions, same file sets, same rows — and the two
log seams (``os``, which TxTable uses on local paths, and Hadoop over
py4j) must never diverge. This is the invariant the whole dual-writer design rests on:
both sides claim version slots with an atomic create-if-absent on the
same directory entry, so any interleaving is equivalent to SOME serial
order."""

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from novlake_spark.sources.txlog_source import _TxLogBatchWriter
from novlake_spark.txlog import LogReader, TxTable, _HadoopFS

# an op is ("jvm"|"py", lo, hi): append rows k in [lo, hi) from that writer
_ops = st.lists(
    st.tuples(
        st.sampled_from(["jvm", "py"]),
        st.integers(min_value=0, max_value=50),
        st.integers(min_value=1, max_value=30),
    ),
    min_size=1,
    max_size=5,
)


def _py_append(spark, path, schema, lo, hi):
    """Append through the data-source writer WITHOUT a Spark job — the
    executor/driver hooks are called directly, which is also what makes
    this property cheap enough to run many examples."""
    w = _TxLogBatchWriter(schema, {"path": path}, "append")
    batch = pa.RecordBatch.from_pydict(
        {"k": list(range(lo, hi)), "v": [k * 10 for k in range(lo, hi)]},
        schema=pa.schema([("k", pa.int64()), ("v", pa.int64())]),
    )
    msg = w.write(iter([batch]))
    w.commit([msg])


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_ops)
def test_mixed_writer_interleavings_agree(spark, tmp_path_factory, ops):
    import pyspark.sql.functions as F

    path = str(tmp_path_factory.mktemp("mix") / "t")
    t = TxTable(spark, path)
    t.commit(
        spark.range(0, 1).select(F.col("id").alias("k"), F.col("id").alias("v"))
    )  # establish schema so the Python writer validates against it
    expect = [(0, 0)]
    schema = t.schema_at()
    for kind, lo, span in ops:
        hi = lo + span
        if kind == "jvm":
            t.commit(
                spark.range(lo, hi).select(
                    F.col("id").alias("k"), (F.col("id") * 10).alias("v")
                )
            )
        else:
            _py_append(spark, path, schema, lo, hi)
        expect += [(k, k * 10) for k in range(lo, hi)]
    # one log entry per op, contiguous versions, no lost or phantom commit
    assert t.versions() == list(range(len(ops) + 1))
    # both seams resolve the identical snapshot at EVERY version
    jvm = LogReader(path, _HadoopFS(spark, path))
    for v in t.versions():
        assert jvm.snapshot_adds(v) == t.snapshot_adds(v)
    assert jvm.schema_at() == t.schema_at()
    # and the rows are exactly the union of all appends
    got = sorted((r.k, r.v) for r in t.read().collect())
    assert got == sorted(expect)


def test_py_writer_requires_schema_match_even_first(spark, tmp_path):
    """A Python append that races table creation still lands with ITS
    schema recorded — a subsequent JVM append of a different shape is
    rejected, not silently mixed."""
    from novlake_spark.txlog import SchemaMismatch

    path = str(tmp_path / "t")
    schema = __import__("pyspark").sql.types.StructType.fromJson(
        {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True, "metadata": {}},
                {"name": "v", "type": "long", "nullable": True, "metadata": {}},
            ],
        }
    )
    _py_append(spark, path, schema, 0, 5)
    t = TxTable(spark, path)
    assert t.schema_at() is not None
    import pyspark.sql.functions as F

    with pytest.raises(SchemaMismatch):
        t.commit(spark.range(3).select(F.col("id").alias("wrong")))


def test_true_concurrent_commits_all_land(spark, tmp_path):
    """8 threads (4 JVM, 4 Python) commit simultaneously against one
    log: every commit must land in a unique version slot (no lost
    update, no duplicate slot) and the final table holds all rows."""
    import threading

    import pyspark.sql.functions as F

    path = str(tmp_path / "t")
    t = TxTable(spark, path)
    t.commit(spark.range(0, 1).select(F.col("id").alias("k"), F.col("id").alias("v")))
    schema = t.schema_at()
    errors = []

    def jvm_worker(i):
        try:
            lo = 1000 * (i + 1)
            TxTable(spark, path).commit(
                spark.range(lo, lo + 10).select(
                    F.col("id").alias("k"), (F.col("id") * 10).alias("v")
                ),
                max_retries=20,
            )
        except Exception as e:  # pragma: no cover - failure reporting
            errors.append(e)

    def py_worker(i):
        try:
            lo = 100 * (i + 1)
            _py_append(spark, path, schema, lo, lo + 10)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=jvm_worker, args=(i,)) for i in range(4)]
    threads += [threading.Thread(target=py_worker, args=(i,)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    assert t.versions() == list(range(9))  # 1 seed + 8 racing commits
    assert t.read().count() == 1 + 8 * 10


def test_chaos_mixed_dml_under_concurrency(spark, tmp_path):
    """8 threads fire random DML (append / rewrite-delete / DV delete /
    merge) at one table. Conflicts are ALLOWED to raise CommitConflict —
    the invariants are: the log stays contiguous with one entry per
    successful op, every snapshot in history is readable, and replay is
    deterministic (JVM and Python planners agree at every version)."""
    import random
    import threading

    import pyspark.sql.functions as F

    from novlake_spark.txlog import CommitConflict

    path = str(tmp_path / "t")
    seed_t = TxTable(spark, path)
    seed_t.commit(
        spark.range(0, 500).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    )
    successes = []
    hard_errors = []

    def worker(i):
        rng = random.Random(i)
        t = TxTable(spark, path)
        for j in range(3):
            op = rng.choice(["append", "delete", "dv_delete", "merge"])
            lo = rng.randrange(0, 400)
            try:
                if op == "append":
                    t.commit(
                        spark.range(1000 + i * 100 + j * 10, 1000 + i * 100 + j * 10 + 5)
                        .select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
                    )
                elif op == "delete":
                    t.delete([("k", "=", lo)])
                elif op == "dv_delete":
                    t.delete([("k", "=", lo + 1)], dv=True)
                else:
                    t.merge(
                        spark.range(lo, lo + 3).select(
                            F.col("id").alias("k"), F.lit(-1).alias("v")
                        ),
                        key=["k"],
                    )
                successes.append((i, j, op))
            except CommitConflict:
                pass  # losing a race loudly is correct behavior
            except Exception as e:  # pragma: no cover
                hard_errors.append((i, j, op, repr(e)))

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not hard_errors, hard_errors
    t = TxTable(spark, path)
    versions = t.versions()
    # contiguous log, exactly one entry per successful commit
    assert versions == list(range(len(versions)))
    assert len(versions) == 1 + len(successes)
    # every retained snapshot resolves identically through both seams
    # and the latest is readable end-to-end
    jvm = LogReader(path, _HadoopFS(spark, path))
    for v in versions:
        assert jvm.snapshot_adds(v) == t.snapshot_adds(v)
    assert t.read().count() > 0
