"""``spark.read.format("txlog")`` / ``spark.readStream.format("txlog")``:
the transaction-logged table as a first-class Spark data source, built
on PySpark 4's public Python Data Source API (SPARK-44076).

Why this exists when :meth:`TxTable.read` already plans scans natively:

- **Streaming.** Structured Streaming cannot consume a TxTable through
  the file source (``data/`` receives files BEFORE their commit
  publishes, so a directory watcher would read uncommitted data — the
  exact torn-read the log exists to prevent). Here the *commit log* is
  the stream: offsets are commit versions, a micro-batch is the file
  set published by the versions in ``(start, end]``, and Spark's
  offset checkpointing + the log's immutable entries give exactly-once
  replay with no extra bookkeeping. This is the Delta streaming-source
  design (VLDB 2020 §4.3) expressed through Spark's public API.
- **Engine-independent planning.** ``pushFilters`` receives Catalyst's
  pushed predicates and prunes files with the same pure
  :func:`~novlake_spark.txlog.file_matches` (min/max + Bloom) the
  native path uses — the scan plan Spark executes only ever contains
  the matching files, and the filters are *also* kept row-level
  (we return every filter as unhandled), so pruning can only be
  conservative, never wrong.

Batch reads of large snapshots should still prefer ``TxTable.read``
(native parquet scan, whole-stage codegen); this source's batch path
routes each file through a Python worker as Arrow batches — fine for
the change feed and small/medium snapshots, ~2-5× slower for a full
100 TB scan. The streaming path has no such caveat: deltas are small
by construction and arrive as Arrow batches.

The write path completes the symmetry: ``df.write.format("txlog")``
publishes one atomic log commit per save (executors land one parquet
file per task with per-column min/max stats and null counts computed
on the Arrow batches as they stream through; the driver's ``commit``
hook publishes the entry), and ``writeStream.format("txlog")`` is an
exactly-once streaming sink when given ``txnAppId`` — each micro-batch
commits under txn ``<appId>@<batchId>``, so Spark replaying a batch
after a crash is a log-detected no-op.

Log access goes through the same :class:`~novlake_spark.txlog.LogReader`
TxTable uses: this writer and TxTable publish with the same
``LogReader.publish`` (writer gate, ``ts_ms`` stamp, create-if-absent
claim of the version slot) and evolve schemas with the same
:func:`~novlake_spark.txlog.check_schema`, and change micro-batches come
from the same :func:`~novlake_spark.txlog.plan_changes`, so the source
and ``TxTable.changes`` cannot disagree. The reader's filesystem seam
has four methods (list, read, claim, delete) and two implementations:
``os`` for local and ``file:`` paths, Hadoop over py4j for every other
scheme. The DataSource API's driver hooks and executors run in Python
workers without a JVM, so this source serves local paths only;
executors open just the data files their partition names, and write
their own parquet files with Arrow (no ``.crc`` sidecars to keep in
step, unlike Spark's Hadoop writes).
"""

from __future__ import annotations

import base64
import json
import os
import uuid
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from novlake_spark.txlog import (
    _BLOOM_K,
    _BLOOM_M,
    _STAT_TYPES,
    CommitConflict,
    LogReader,
    _bloom_positions,
    _is_mapped,
    _local_path,
    _phys_map,
    _stat_value,
    appended_units,
    check_schema,
    file_matches,
    plan_changes,
)

#: Change-feed metadata columns (match :meth:`TxTable.changes`).
_CDF_FIELDS = [
    T.StructField("_change_type", T.StringType()),
    T.StructField("_commit_version", T.IntegerType()),
]


def _add_path(root: str, add: dict) -> str:
    """Local path of an add-action's data file; honors a shallow-cloned
    add's ``path`` the same way ``TxTable._data_path`` does."""
    return _local_path(add.get("path") or f"{root}/data/{add['file']}")


@dataclass
class _FilePartition(InputPartition):
    """One data file; for streaming also its change tag. Carries the
    absolute path (and the file's deletion-vector positions) so
    executors never touch the log. ``dv_mode='exclude'`` drops the DV
    positions (snapshot semantics); ``'only'`` keeps exactly them (the
    change feed's delete rows for a set_dv commit)."""

    path: str | None  # None ⇒ deliberately empty partition
    change_type: str | None = None
    commit_version: int | None = None
    dv: tuple = ()
    dv_mode: str = "exclude"


def _arrow_schema(spark_schema: T.StructType) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(spark_schema)


def _aligned_batches(
    path: str | None, target: pa.Schema, dv=(), dv_mode="exclude", phys=None
):
    """Stream one parquet file batch-by-batch (never the whole file in
    memory) aligned to the declared source schema: pre-evolution files
    surface post-evolution columns as nulls (the log's snapshot-schema
    contract), dropped columns are not delivered, and physical/logical
    type drift is cast. ``phys`` maps logical→physical column names on
    column-mapped tables (files spell the physical name, the yielded
    batches spell the logical one). Deletion-vector positions are
    dropped (``exclude``) or isolated (``only``) by tracking the
    running row offset per batch. Yields Arrow batches."""
    if path is None:
        return
    phys = phys or {}
    pf = pq.ParquetFile(path)
    names = {f.name: phys.get(f.name, f.name) for f in target}
    present = [p for p in names.values() if p in pf.schema_arrow.names]
    dv_set = set(dv)
    offset = 0
    for batch in pf.iter_batches(columns=present):
        n = batch.num_rows
        if dv_set or dv_mode == "only":
            hit = [i for i in range(n) if (offset + i) in dv_set]
            keep = hit if dv_mode == "only" else [
                i for i in range(n) if (offset + i) not in dv_set
            ]
            offset += n
            if len(keep) < n:
                batch = batch.take(pa.array(keep, pa.int64()))
            if batch.num_rows == 0:
                continue
        cols = []
        for field in target:
            pname = names[field.name]
            if pname in batch.schema.names:
                col = batch.column(pname)
                if col.type != field.type:
                    col = col.cast(field.type)
                cols.append(col)
            else:
                cols.append(pa.nulls(batch.num_rows, field.type))
        yield pa.RecordBatch.from_arrays(cols, schema=target)


def _to_predicates(filters: list[Filter]) -> list[tuple]:
    """Pushed Catalyst filters → the ``(col, op, value)`` grammar
    :func:`file_matches` prunes with. Only shapes the skip index can
    use are kept; everything else is simply not pruned on (and since
    ALL filters are reported back as unhandled, Spark re-applies every
    predicate row-level — pruning is an optimization, never semantics).
    """
    ops = {
        EqualTo: "=",
        GreaterThan: ">",
        GreaterThanOrEqual: ">=",
        LessThan: "<",
        LessThanOrEqual: "<=",
    }
    preds = []
    for f in filters:
        op = ops.get(type(f))
        if op is None or len(f.attribute) != 1:
            continue
        if f.value is None or isinstance(f.value, (list, tuple, dict)):
            continue
        preds.append((f.attribute[0], op, f.value))
    return preds


def _resolve_version(log: LogReader, options: dict) -> int | None:
    """Shared batch time-travel resolution: ``version`` wins, else
    ``timestampMs`` resolves through the commit timestamps."""
    version = options.get("version")
    ts = options.get("timestampms")
    if version is not None and ts is not None:
        raise ValueError("pass version OR timestampMs, not both")
    if version is not None:
        return int(version)
    if ts is not None:
        return log.version_at_time(int(ts))
    return None


class _TxLogBatchReader(DataSourceReader):
    def __init__(self, schema: T.StructType, options: dict):
        self._log = LogReader(options["path"])
        version = _resolve_version(self._log, options)
        adds, schema_json = self._log.state(version)[:2]
        self._adds = adds
        self._target = _arrow_schema(schema)
        # logical→physical names on column-mapped tables (file columns
        # and stats/Bloom keys are physical; this source's output and
        # pushed filters are logical)
        self._phys = _phys_map(
            None if schema_json is None else T.StructType.fromJson(json.loads(schema_json))
        )

    def pushFilters(self, filters: list[Filter]):
        from pyspark.sql.datasource import In

        preds = [
            (self._phys.get(c, c), op, v) for c, op, v in _to_predicates(filters)
        ]
        if preds:
            self._adds = [a for a in self._adds if file_matches(a, preds)]
        for f in filters:
            # IN is a disjunction: keep a file if ANY value could be in
            # it (per-value Bloom/min-max probe — the point-lookup path)
            if (
                isinstance(f, In)
                and len(f.attribute) == 1
                and f.value
                and all(
                    isinstance(v, (int, str)) and not isinstance(v, bool)
                    for v in f.value
                )
            ):
                col = self._phys.get(f.attribute[0], f.attribute[0])
                self._adds = [
                    a
                    for a in self._adds
                    if any(file_matches(a, [(col, "=", v)]) for v in f.value)
                ]
        # Report every filter unhandled: file skipping is conservative
        # (a kept file may still hold non-matching rows), so Spark must
        # keep the row-level Filter above this scan.
        return filters

    def partitions(self):
        parts = [
            _FilePartition(_add_path(self._log.path, a), dv=tuple(a.get("dv", [])))
            for a in self._adds
        ]
        return parts or [_FilePartition(None)]

    def read(self, partition: _FilePartition):
        yield from _aligned_batches(
            partition.path, self._target, partition.dv, partition.dv_mode,
            phys=self._phys,
        )


class _TxLogStreamReader(DataSourceStreamReader):
    """Offsets are commit versions: offset ``{"version": N}`` means
    "everything through commit N is delivered". A micro-batch
    ``(start, end]`` is one partition per change unit of those commits
    (:func:`~novlake_spark.txlog.plan_changes`, the derivation
    :meth:`TxTable.changes` plans from) — deterministic from immutable
    log entries, so a replayed batch is byte-identical and Spark's
    offset checkpoint gives exactly-once.

    Modes:

    - default: append-only tail (rows from ``add`` actions). A commit
      that removes or overwrites raises mid-stream unless
      ``ignoreChanges=true`` (rewritten files' rows then re-deliver —
      Delta's ``ignoreChanges`` contract; consumers must be idempotent).
    - ``readChangeFeed=true``: row-level change feed — inserts AND
      deletes, tagged ``_change_type`` / ``_commit_version`` exactly
      like :meth:`TxTable.changes`.

    ``startingVersion``: first commit to deliver (default 0 = full
    history, i.e. the table's current content arrives as the first
    batches); ``"latest"`` tails only commits made after stream start.

    Deliberately NO ``maxFilesPerTrigger``: the Python API's
    ``latestOffset()`` receives neither the last committed offset nor a
    read limit (no ``SupportsAdmissionControl`` surface), so any
    reader-internal cursor desynchronizes from Spark's checkpoint on
    restart — the offset log would walk backwards and re-deliver.
    Backfill batches are instead bounded by the log itself: commit at
    the producer's cadence and each version is its own micro-batch
    unit; Spark coalesces only what accumulated between triggers.
    """

    def __init__(self, schema: T.StructType, options: dict):
        self._log = LogReader(options["path"])
        self._cdf = str(options.get("readchangefeed", "false")).lower() == "true"
        self._ignore_changes = str(options.get("ignorechanges", "false")).lower() == "true"
        base_fields = schema.fields[:-2] if self._cdf else schema.fields
        self._base_arrow = _arrow_schema(T.StructType(base_fields))
        log_schema = self._log.schema_at()
        self._phys = _phys_map(log_schema)  # logical→physical (mapped tables)
        start = str(options.get("startingversion", "0"))
        if start.lower() == "latest":
            latest = self._log.latest_version()
            self._start_after = -1 if latest is None else latest
        else:
            self._start_after = int(start) - 1

    def initialOffset(self) -> dict:
        return {"version": self._start_after}

    def latestOffset(self) -> dict:
        latest = self._log.latest_version()
        return {"version": self._start_after if latest is None else max(latest, self._start_after)}

    def partitions(self, start: dict, end: dict):
        units = plan_changes(self._log, start["version"], end["version"])
        if not self._cdf:
            units = appended_units(
                units,
                self._ignore_changes,
                "stream with readChangeFeed=true for row-level deletes, or "
                "ignoreChanges=true to re-deliver rewritten rows",
            )
        parts = [
            _FilePartition(
                _add_path(self._log.path, u.add), u.change_type, u.version, u.dv, u.dv_mode
            )
            for u in units
        ]
        return parts or [_FilePartition(None)]

    def read(self, partition: _FilePartition):
        for batch in _aligned_batches(
            partition.path, self._base_arrow, partition.dv, partition.dv_mode,
            phys=self._phys,
        ):
            if not self._cdf:
                yield batch
                continue
            n = batch.num_rows
            arrays = list(batch.columns) + [
                pa.array([partition.change_type] * n, pa.string()),
                pa.array([partition.commit_version] * n, pa.int32()),
            ]
            names = list(batch.schema.names) + ["_change_type", "_commit_version"]
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    def commit(self, end: dict) -> None:
        pass  # offsets live in Spark's checkpoint; log entries are immutable


# -- write path ----------------------------------------------------------


@dataclass
class _TxFileCommit(WriterCommitMessage):
    """One executor task's landed file (None = the task saw no rows)."""

    file: str | None
    rows: int = 0
    stats: dict = field(default_factory=dict)
    bloom: dict = field(default_factory=dict)
    bytes: int = 0
    nulls: dict = field(default_factory=dict)


class _WriterCore:
    """Shared by the batch and streaming writers. Executors land one
    parquet file per non-empty task under ``data/`` (invisible until a
    log entry references it — the same land-then-publish protocol as
    ``TxTable._write_data``) and return its add-action in the commit
    message, with min/max stats and null counts computed per Arrow
    batch as it streams through, so the driver's ``commit`` publishes
    ONE atomic log entry and needs no second pass over the data."""

    def __init__(self, schema: T.StructType, options: dict, mode: str):
        self._log = LogReader(options["path"])
        self._schema = schema
        self._mode = mode
        self._txn = options.get("txn")  # batch idempotency key
        self._txn_app = options.get("txnappid")  # streaming: <app>@<batchId>
        self._stat_cols = {
            f.name for f in schema.fields if isinstance(f.dataType, _STAT_TYPES)
        }
        # Same eligibility rule as TxTable._write_data: only types whose
        # Spark CAST(... AS STRING) equals Python str() may feed the
        # Bloom filter, or the two planners would probe different keys.
        wanted = {
            c.strip() for c in options.get("bloomcols", "").split(",") if c.strip()
        }
        self._bloom_cols = {
            f.name
            for f in schema.fields
            if f.name in wanted
            and isinstance(
                f.dataType,
                (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.StringType),
            )
        }

    # -- executor side ---------------------------------------------------
    def write(self, iterator) -> _TxFileCommit:
        import pyarrow.compute as pc

        writer = None
        name = f"{uuid.uuid4().hex}.parquet"
        path = _add_path(self._log.path, {"file": name})
        rows = 0
        lo: dict = {}
        hi: dict = {}
        nulls: dict = {}  # a column no batch carries stays out: "unknown"
        bloom_bits = {c: bytearray(_BLOOM_M >> 3) for c in self._bloom_cols}
        try:
            for batch in iterator:
                if batch.num_rows == 0:
                    continue
                if writer is None:
                    os.makedirs(os.path.dirname(path), exist_ok=True)
                    writer = pq.ParquetWriter(path, batch.schema)
                writer.write_batch(batch)
                rows += batch.num_rows
                for c in self._stat_cols:
                    if c not in batch.schema.names:
                        continue
                    mm = pc.min_max(batch.column(c))
                    nulls[c] = nulls.get(c, 0) + batch.column(c).null_count
                    bl, bh = mm["min"].as_py(), mm["max"].as_py()
                    if bl is not None:
                        lo[c] = bl if c not in lo or bl < lo[c] else lo[c]
                        hi[c] = bh if c not in hi or bh > hi[c] else hi[c]
                for c in self._bloom_cols:
                    if c not in batch.schema.names:
                        continue
                    bits = bloom_bits[c]
                    for v in batch.column(c).to_pylist():
                        if v is None:
                            continue
                        for pos in _bloom_positions(str(v)):
                            bits[pos >> 3] |= 1 << (pos & 7)
        finally:
            if writer is not None:
                writer.close()
        if rows == 0:
            return _TxFileCommit(None)
        size = os.path.getsize(path)
        stats = {
            c: [_stat_value(lo.get(c)), _stat_value(hi.get(c))]
            for c in self._stat_cols
        }
        bloom = {
            c: {
                "m": _BLOOM_M,
                "k": _BLOOM_K,
                "bits": base64.b64encode(bytes(bits)).decode(),
            }
            for c, bits in bloom_bits.items()
        }
        return _TxFileCommit(name, rows, stats, bloom, size, nulls)

    # -- driver side -----------------------------------------------------
    def _adds(self, messages) -> list[dict]:
        out = []
        for m in messages:
            if m is None or m.file is None:
                continue
            add = {"file": m.file, "rows": m.rows, "stats": m.stats, "nulls": m.nulls,
                   "bytes": m.bytes}
            if m.bloom:
                add["bloom"] = m.bloom
            out.append(add)
        return out

    def _discard(self, messages) -> None:
        for m in messages or []:
            if m is not None and m.file is not None:
                try:
                    os.unlink(_add_path(self._log.path, {"file": m.file}))
                except FileNotFoundError:
                    pass

    def _publish(self, messages, txn: str | None, max_retries: int = 20) -> int:
        adds = self._adds(messages)
        for _ in range(max_retries):
            cur_schema_json, txns, constraints, _, identity = self._log.meta()
            if txn is not None and txn in txns:
                # replayed batch: the table already has this commit;
                # this run's landed files are orphans
                self._discard(messages)
                return txns[txn]
            if constraints:
                # CHECK constraints are SQL expressions — only the JVM
                # path can evaluate them. Refusing beats silently
                # committing rows a constraint would have rejected.
                self._discard(messages)
                raise NotImplementedError(
                    f"table {self._log.path} has CHECK constraints "
                    f"{sorted(constraints)}; write through TxTable.commit"
                )
            if identity:
                # identity allocation + watermark advance live in
                # TxTable.commit; a Python-side commit would hand out
                # colliding ids. Refuse rather than corrupt.
                self._discard(messages)
                raise NotImplementedError(
                    f"table {self._log.path} has identity column "
                    f"{sorted(identity)}; write through TxTable.commit"
                )
            cur = None if cur_schema_json is None else T.StructType.fromJson(
                json.loads(cur_schema_json)
            )
            if _is_mapped(cur):
                # column-mapped tables write files under PHYSICAL names;
                # this writer landed logical-named files. Refuse rather
                # than publish files every reader would misbind.
                self._discard(messages)
                raise NotImplementedError(
                    f"table {self._log.path} has column mapping enabled; "
                    "write through TxTable.commit"
                )
            schema_action = check_schema(self._schema, cur, self._mode, self._log.path)
            latest = self._log.latest_version()
            entry: dict = {
                "version": 0 if latest is None else latest + 1,
                "mode": self._mode,
                "add": adds,
            }
            if schema_action is not None:
                entry["schema"] = schema_action
            if txn is not None:
                entry["txn"] = txn
            if self._log.publish(entry):
                return entry["version"]
            # lost the slot to a rival — loop re-reads the tail (pure
            # appends always compose; this writer never removes files)
        self._discard(messages)
        raise CommitConflict(f"lost {max_retries} commit races on {self._log.path}")


class _TxLogBatchWriter(_WriterCore, DataSourceArrowWriter):
    def commit(self, messages) -> None:
        self._publish(messages, txn=self._txn)

    def abort(self, messages) -> None:
        self._discard(messages)


class _TxLogStreamWriter(_WriterCore, DataSourceStreamArrowWriter):
    """Exactly-once streaming sink: with ``txnAppId`` set, each
    micro-batch commits under txn ``<appId>@<batchId>``, so a batch
    Spark replays after a sink-committed-but-checkpoint-lost crash is
    recognized in the log and skipped — the data-source-API twin of the
    foreachBatch + ``txn=`` pattern in streaming/events.py. Without
    ``txnAppId`` the sink is at-least-once (documented, not default-on,
    because a wrong appId shared by two streams would wrongly dedupe)."""

    def commit(self, messages, batchId: int) -> None:
        txn = f"{self._txn_app}@{batchId}" if self._txn_app else None
        self._publish(messages, txn=txn)

    def abort(self, messages, batchId: int) -> None:
        self._discard(messages)


class TxLogDataSource(DataSource):
    """``format("txlog")``. Options: ``path`` (required), ``version``
    (batch time travel), ``readChangeFeed``, ``startingVersion``,
    ``ignoreChanges`` (streaming). Register once per session with
    :func:`register_txlog_source`."""

    @classmethod
    def name(cls) -> str:
        return "txlog"

    def schema(self) -> T.StructType:
        log = LogReader(self.options["path"])
        schema = log.schema_at(_resolve_version(log, self.options))
        if schema is None:
            raise FileNotFoundError(f"no committed schema under {self.options['path']}")
        # All-nullable, like every Spark file source (and evolution pads
        # pre-evolution files with nulls, so nothing is truly required).
        schema = T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in schema.fields]
        )
        if str(self.options.get("readchangefeed", "false")).lower() == "true":
            schema = T.StructType(schema.fields + _CDF_FIELDS)
        return schema

    def reader(self, schema: T.StructType) -> _TxLogBatchReader:
        return _TxLogBatchReader(schema, self.options)

    def streamReader(self, schema: T.StructType) -> _TxLogStreamReader:
        return _TxLogStreamReader(schema, self.options)

    def writer(self, schema: T.StructType, overwrite: bool) -> _TxLogBatchWriter:
        return _TxLogBatchWriter(
            schema, self.options, "overwrite" if overwrite else "append"
        )

    def streamWriter(self, schema: T.StructType, overwrite: bool) -> _TxLogStreamWriter:
        return _TxLogStreamWriter(
            schema, self.options, "overwrite" if overwrite else "append"
        )


def register_txlog_source(spark) -> None:
    """Idempotent per-session registration of ``format("txlog")``."""
    spark.dataSource.register(TxLogDataSource)
    # Without this Catalyst never calls pushFilters (and 4.1 hard-errors
    # on a reader that implements it); runtime-settable SQL conf.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
