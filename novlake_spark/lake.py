"""The ``Lake`` facade — novlake's own API surface, Spark-native.

The reference's ``Lake`` class (upstream:novlake/lake.py, SURVEY.md §2.A,
reconstruction — the mounted checkout is empty, SURVEY.md §0) wraps an
S3-+-Athena lake: ``query`` ships SQL to Athena, ``replace_table``
uploads pandas→Parquet→S3 and re-registers a Glue table, ``preview`` /
``tables`` / ``describe`` are catalog sugar. Here the same verbs map to
SparkSession + DataFrameWriter + the Spark catalog:

=====================  ==================================================
reference verb          Spark-native implementation
=====================  ==================================================
``query(sql)``          ``spark.sql`` (Catalyst parse→optimize→execute)
``preview(t, n)``       ``spark.table(t).limit(n)``
``tables()``            ``spark.catalog.listTables``
``describe(t)``         ``spark.catalog.listColumns``
``replace_table``       ``df.write.mode('overwrite')`` + view/catalog reg
``append``              ``df.write.mode('append')``
``partitioned write``   ``df.write.partitionBy(*cols)``
``repair partitions``   ``spark.catalog.recoverPartitions`` / re-register
``dump(sql, path)``     ``df.write.csv(header=True)``
=====================  ==================================================

ACID note (SURVEY.md §7.5): the reference has *no* transactional story
(non-atomic S3 overwrite). We match-or-beat it with Spark's committer
protocol (job-level commit via staging dirs) and dynamic partition
overwrite (``partitionOverwriteMode=dynamic``) for partition-level
atomicity. The "Delta ops" are provided on plain Parquet in simplified
form: ``merge_into`` (copy-on-write MERGE/upsert, partition-scoped when
the table is partitioned) and ``save_version``/``read_version``/
``history`` (immutable ``v=N`` snapshot dirs = time travel). For the
full transaction-log story — atomic multi-file commits, snapshot
isolation, optimistic concurrency between writers — see
:mod:`novlake_spark.txlog` (a minimal Delta-style JSON commit log over
plain Parquet, no jars needed). A real Delta backend stays a drop-in
(``format`` is parameterized) if jars appear.

Scale notes: writes accept ``partition_by`` (Hive-style layout → static
partition pruning on read) and ``max_records_per_file`` so a 100 TB
table lands as prunable, right-sized files instead of a few giant ones.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import broadcast as F_broadcast
from pyspark.sql.functions import col as F_col
from pyspark.sql.functions import when as F_when
from pyspark.sql.functions import xxhash64 as F_xxhash64

from novlake_spark.session import tune
from novlake_spark.sources.tables import TABLES, load_table


class Lake:
    """Spark-native data-lake utility surface (SURVEY.md §2.A rows A1–A10)."""

    def __init__(self, spark: SparkSession, namespace: dict[str, str] | None = None):
        # A10: per-user namespace config — a plain dict of logical names →
        # storage paths, replacing the reference's env/S3-JSON config.
        self.spark = tune(spark)
        self.namespace = dict(namespace or {})

    # -- catalog -----------------------------------------------------------
    def attach_dir(self, sf_dir: str, names: list[str] | None = None) -> None:
        """Register every Parquet table under a directory as a temp view."""
        for name in names or TABLES:
            self.register(name, load_table(self.spark, sf_dir, name))

    def register(self, name: str, df: DataFrame) -> None:
        df.createOrReplaceTempView(name)
        self.namespace.setdefault(name, f"view:{name}")

    def tables(self) -> list[str]:
        """A3: list catalog tables/views."""
        return sorted(t.name for t in self.spark.catalog.listTables())

    def describe(self, name: str) -> list[tuple[str, str]]:
        """A4: (column, type) pairs for a registered table."""
        return [(c.name, c.dataType) for c in self.spark.catalog.listColumns(name)]

    # -- query -------------------------------------------------------------
    def query(self, sql: str) -> DataFrame:
        """A1: SQL in, DataFrame out. ``.toPandas()`` for reference parity."""
        return self.spark.sql(sql)

    def query_pandas(self, sql: str):
        return self.query(sql).toPandas()

    def preview(self, name: str, n: int = 10) -> DataFrame:
        """A2: cheap peek — LIMIT pushes down, no full scan."""
        return self.spark.table(name).limit(n)

    # -- write -------------------------------------------------------------
    def replace_table(
        self,
        df: DataFrame,
        name: str,
        path: str,
        partition_by: list[str] | None = None,
        fmt: str = "parquet",
        max_records_per_file: int | None = None,
        cluster_by: list[str] | None = None,
    ) -> DataFrame:
        """A5/A7: overwrite-write a table and (re)register it.

        With ``partition_by`` the layout is Hive-style ``k=v`` dirs →
        readers get static partition pruning for free. ``cluster_by``
        sorts rows within each output file (sortWithinPartitions — no
        extra shuffle) so Parquet row-group min/max stats become tight
        and range predicates on those columns skip row groups at scan
        time — the poor-man's Z-order, and the single cheapest scan
        optimization for time-filtered 100 TB tables.
        """
        if cluster_by:
            df = df.sortWithinPartitions(*cluster_by)
        return self._write(df, name, path, "overwrite", partition_by, fmt, max_records_per_file)

    def append(
        self,
        df: DataFrame,
        name: str,
        path: str,
        partition_by: list[str] | None = None,
        fmt: str = "parquet",
    ) -> DataFrame:
        """A6: append files to a table prefix."""
        return self._write(df, name, path, "append", partition_by, fmt, None)

    def overwrite_partitions(self, df: DataFrame, name: str, path: str, partition_by: list[str]) -> DataFrame:
        """Dynamic partition overwrite: only the partitions present in
        ``df`` are replaced — the Spark-native upgrade over the
        reference's whole-prefix rewrite."""
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        return self._write(df, name, path, "overwrite", partition_by, "parquet", None)

    def _write(self, df, name, path, mode, partition_by, fmt, max_records_per_file) -> DataFrame:
        writer = df.write.mode(mode).format(fmt)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
        writer.save(path)
        out = self.spark.read.format(fmt).load(path)
        self.register(name, out)
        self.namespace[name] = path
        return out

    def load(self, path: str, fmt: str = "parquet", merge_schema: bool = False) -> DataFrame:
        """Read a table prefix. ``merge_schema=True`` reconciles files
        written under EVOLVED schemas (columns added over time by
        appends): the scan schema is the union, old files surface nulls
        for new columns. Costs a footer read per file at planning time
        — on a 100 TB table turn it on only after an actual evolution,
        or re-register the union schema once instead of paying the
        merge on every read."""
        reader = self.spark.read.format(fmt)
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.load(path)

    def repair_partitions(self, name: str, path: str) -> DataFrame:
        """A8: re-sync a partitioned prefix → catalog (MSCK-equivalent).

        With temp views over file sources, re-loading the path rediscovers
        partitions; for metastore tables this would be
        ``spark.catalog.recoverPartitions(name)``.
        """
        out = self.spark.read.parquet(path)
        self.register(name, out)
        return out

    def dump_csv(self, df: DataFrame, path: str, header: bool = True) -> None:
        """A9: export a result as CSV files."""
        df.write.mode("overwrite").option("header", str(header).lower()).csv(path)

    def dump_jsonl(
        self,
        df: DataFrame,
        path: str,
        max_records_per_file: int = 100_000,
        compression: str | None = "gzip",
        manifest: bool = True,
    ) -> dict:
        """A9b (round 6): export a curated corpus as sharded JSONL — the
        delivery format training jobs actually consume (one JSON object
        per line, gzip shards a loader can stream and shuffle at file
        granularity). ``maxRecordsPerFile`` bounds shard size so the
        trainer's shard-level shuffle has enough pieces; ``manifest``
        writes ``_manifest.json`` beside the shards (row count, column
        names, shard list + sizes) — the contract file a downstream
        loader validates against instead of re-listing and re-counting
        100 TB. Returns the manifest dict."""
        import json as _json
        import os as _os

        w = df.write.mode("overwrite").option(
            "maxRecordsPerFile", str(max_records_per_file)
        )
        if compression:
            w = w.option("compression", compression)
        w.json(path)
        if not manifest:
            return {}
        # shard listing via the JVM filesystem so remote paths work too
        jpath = self.spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        shards = []
        for st in fs.listStatus(jpath):
            name = st.getPath().getName()
            if name.startswith("part-"):
                shards.append({"name": name, "bytes": st.getLen()})
        man = {
            "format": "jsonl",
            "compression": compression,
            "columns": df.columns,
            "n_rows": self.spark.read.json(path).count(),
            "n_shards": len(shards),
            "shards": sorted(shards, key=lambda s: s["name"]),
        }
        tmp = _os.path.join(path, "._manifest.json.tmp")
        out = _os.path.join(path, "_manifest.json")
        with open(tmp, "w") as f:  # local-fs manifest write; HDFS-path
            _json.dump(man, f, indent=1)  # deployments swap in fs.create
        _os.replace(tmp, out)
        return man

    # -- scale utilities ---------------------------------------------------
    def save_bucketed(
        self,
        df: DataFrame,
        name: str,
        bucket_by: str,
        n_buckets: int = 8,
        sort_by: str | None = None,
    ) -> DataFrame:
        """Write a catalog table bucketed (and optionally sorted) by a key.

        Two tables bucketed identically on their join key join with NO
        exchange on either side — the physical property that turns a
        recurring 100 TB fact⋈fact join from a cluster-wide shuffle
        into a per-bucket local merge. Requires ``saveAsTable`` (bucket
        metadata lives in the catalog, not the files).
        """
        # Idempotence across sessions: the in-memory catalog forgets
        # managed tables on restart but their warehouse directories
        # survive, and saveAsTable refuses to reuse the location.
        self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        warehouse = self.spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        leftover = os.path.join(warehouse.removeprefix("file:"), name)
        if os.path.exists(leftover):
            shutil.rmtree(leftover)
        writer = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, bucket_by)
        if sort_by:
            writer = writer.sortBy(sort_by)
        writer.saveAsTable(name)
        out = self.spark.table(name)
        self.namespace[name] = f"table:{name}"
        return out

    def analyze(self, name: str, columns: list[str] | None = None) -> dict:
        """Collect table (and optionally column) statistics into the
        catalog — the food the cost-based optimizer eats.

        At 100 TB this is what turns join ORDER from a guess into a
        decision: file sizes alone give Catalyst bytes, but
        ``rowCount`` and per-column NDV/min/max (from ``FOR COLUMNS``)
        are what CBO's join reordering and broadcast selection need
        (``spark.sql.cbo.enabled`` + ``joinReorder.enabled``). Stats
        are catalog-persistent: ANALYZE runs once per load batch, every
        subsequent query planning reads them for free.

        Returns the parsed stats for assertion/monitoring: bytes,
        rowCount, and per-column dicts when requested."""
        if columns:
            cols = ", ".join(columns)
            self.spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS {cols}")
        else:
            self.spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
        out: dict = {"columns": {}}
        for r in self.spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect():
            if r["col_name"] == "Statistics":
                out["raw"] = r["data_type"]
                for part in r["data_type"].split(","):
                    part = part.strip()
                    if part.endswith("bytes"):
                        out["bytes"] = int(part.split()[0])
                    elif part.endswith("rows"):
                        out["rows"] = int(part.split()[0])
        for c in columns or []:
            stats = {
                r["info_name"]: r["info_value"]
                for r in self.spark.sql(
                    f"DESCRIBE TABLE EXTENDED {name} {c}"
                ).collect()
            }
            out["columns"][c] = stats
        return out

    # -- "Delta ops" on plain Parquet (SURVEY.md §7.5) ---------------------
    def merge_into(
        self,
        source: DataFrame,
        name: str,
        path: str,
        key: list[str],
        delete_matched: bool = False,
        partition_by: list[str] | None = None,
        **clauses,
    ) -> DataFrame:
        """MERGE/upsert semantics on a plain-Parquet table.
        Transaction-logged targets additionally accept the Delta-style
        clause refinements (``update_set``, ``matched_condition``,
        ``insert_unmatched`` — see :meth:`TxTable.merge`) via kwargs.

        Equivalent of ``MERGE INTO target USING source ON key``:
        matched target rows are replaced by their source row (or deleted
        with ``delete_matched=True``), unmatched source rows are
        inserted. Without Delta's log this is copy-on-write: the merged
        result lands in a staging dir and swaps in with directory
        renames, so readers see the old or the new table, never a mix.

        Scale path: with ``partition_by``, only partitions present in
        ``source`` are rewritten — the merge reads/writes
        O(affected partitions), not the whole table, which is the only
        viable shape when the table is 100 TB and the delta is 1 GB.
        The key anti-join broadcasts when the source is small (AQE).

        Transaction-logged targets: if ``path`` is a
        :class:`~novlake_spark.txlog.TxTable` (has a ``_log/``), the
        merge routes through the log as ONE atomic remove+add commit —
        no rename window at all, per-file stats scope the rewrite to
        overlapping files, and concurrent writers get real conflict
        detection. That is the recommended shape for object stores;
        the prefix-swap below remains only for plain Parquet dirs.
        """
        if self._is_txtable(path):
            t = self.tx(path)
            t.merge(source, key=key, delete_matched=delete_matched, **clauses)
            out = t.read()
            self.register(name, out)
            return out
        if clauses:
            raise ValueError(
                f"MERGE clause refinements {sorted(clauses)} require a "
                "transaction-logged target (plain-Parquet merge is "
                "whole-row replace/delete only)"
            )
        target = self.spark.read.parquet(path)
        if partition_by:
            # prune target to affected partitions only (join-free when the
            # partition values are few: IN-list over partition columns)
            parts = source.select(*partition_by).distinct()
            scoped = target.join(F_broadcast(parts), partition_by, "left_semi")
            kept = scoped.join(source.select(*key).distinct(), key, "left_anti")
            merged = kept if delete_matched else kept.unionByName(source)
            prev = self.spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
            self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            try:
                staged = merged.localCheckpoint(eager=True)  # cut lineage off the input path
                staged.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
            finally:
                self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
            out = self.spark.read.parquet(path)
            self.register(name, out)
            return out
        kept = target.join(source.select(*key).distinct(), key, "left_anti")
        merged = kept if delete_matched else kept.unionByName(source)
        tmp = path.rstrip("/") + "_merging"
        merged.write.mode("overwrite").parquet(tmp)
        self._replace_prefix(tmp, path)
        out = self.spark.read.parquet(path)
        self.register(name, out)
        return out

    def _replace_prefix(self, staged: str, path: str) -> None:
        """Swap a fully-written staging prefix into place via the Hadoop
        FileSystem API — the portable layer every Spark deployment
        already has, so the same code runs on ``file://``, ``hdfs://``
        and ``s3a://`` (round 1 used ``os.rename``, which only exists on
        a local POSIX mount — VERDICT.md "What's wrong" #5).

        Atomicity is the filesystem's: single-metadata-op rename on
        POSIX/HDFS (readers see old or new, never a mix); on object
        stores rename is a copy-and-delete, so there is a visibility
        window — for those, prefer the partitioned ``merge_into`` path
        (dynamic partition overwrite, partition-level commit) or
        ``save_version`` snapshots, both of which never rewrite a live
        prefix. The old data is kept at ``*_old`` until the swap lands,
        then removed.

        Crash window: between rename(path→``*_old``) and
        rename(staged→path) the live prefix does not exist. A crash
        there strands the table under ``*_old`` — so on ENTRY this
        method first auto-recovers that state (live prefix missing but
        ``*_old`` present ⇒ roll the backup back in) before staging
        out. For rewrite-in-place on object stores, prefer the
        transaction-logged path (``merge_into`` on a TxTable target /
        ``save_version`` snapshots), which has no window at all.
        """
        jvm = self.spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path
        src, dst = jpath(staged), jpath(path)
        fs = dst.getFileSystem(self.spark._jsc.hadoopConfiguration())
        bak = jpath(path.rstrip("/") + "_old")
        if fs.exists(bak) and not fs.exists(dst):
            # recover a previous crash inside the swap window
            if not fs.rename(bak, dst):
                raise IOError(f"found stranded backup {bak} but could not restore it")
        if fs.exists(bak):
            fs.delete(bak, True)
        if not fs.rename(dst, bak):
            raise IOError(f"could not stage-out {path}")
        if not fs.rename(src, dst):
            fs.rename(bak, dst)  # roll back, old table stays live
            raise IOError(f"could not swap {staged} into {path}")
        fs.delete(bak, True)

    def save_version(self, df: DataFrame, name: str, base_path: str) -> int:
        """Time-travel-able write: each save is an immutable snapshot dir
        ``base_path/v=N`` (N monotonically increasing); the registered
        view always points at the latest. Old versions stay readable —
        the snapshot-isolation half of Delta's story, from nothing but
        directory convention and Parquet immutability. Returns N.
        """
        n = max(self._versions(base_path), default=-1) + 1
        df.write.mode("errorifexists").parquet(os.path.join(base_path, f"v={n}"))
        self.register(name, self.read_version(base_path))
        self.namespace[name] = base_path
        return n

    def read_version(self, base_path: str, version: int | None = None) -> DataFrame:
        """Read a specific snapshot (``version=N``) or the latest."""
        vs = self._versions(base_path)
        if not vs:
            raise FileNotFoundError(f"no versions under {base_path}")
        v = max(vs) if version is None else version
        if v not in vs:
            raise ValueError(f"version {v} not in {sorted(vs)}")
        return self.spark.read.parquet(os.path.join(base_path, f"v={v}"))

    def history(self, base_path: str) -> list[int]:
        """List committed snapshot versions, oldest first."""
        return sorted(self._versions(base_path))

    def _is_txtable(self, path: str) -> bool:
        jpath = self.spark._jvm.org.apache.hadoop.fs.Path
        p = jpath(path.rstrip("/") + "/_log")
        fs = p.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return bool(fs.exists(p))

    def tx(self, path: str):
        """Open ``path`` as a transaction-logged table (atomic commits,
        snapshot isolation, optimistic concurrency) — see
        :mod:`novlake_spark.txlog` for the log design."""
        from novlake_spark.txlog import TxTable

        return TxTable(self.spark, path)

    def stream_table(self, path: str, **options: str) -> DataFrame:
        """Consume a transaction-logged table as a Structured Streaming
        source: offsets are commit versions, so Spark's checkpoint gives
        exactly-once tailing with no extra bookkeeping. Options pass
        through to ``format("txlog")`` — ``startingVersion`` (int or
        ``"latest"``), ``readChangeFeed``, ``ignoreChanges``. See
        :mod:`novlake_spark.sources.txlog_source`."""
        from novlake_spark.sources.txlog_source import register_txlog_source

        register_txlog_source(self.spark)
        reader = self.spark.readStream.format("txlog").option("path", path)
        for k, v in options.items():
            reader = reader.option(k, v)
        return reader.load()

    def delete_where(self, path: str, where: list[tuple], dv: bool = False) -> int:
        """DELETE rows from a transaction-logged table (stats-scoped
        rewrite, one atomic commit; ``dv=True`` records deletion vectors
        instead of rewriting — merge-on-read) — see :meth:`TxTable.delete`."""
        return self.tx(path).delete(where, dv=dv)

    def update_where(
        self, path: str, assignments: dict[str, str], where: list[tuple] | None = None
    ) -> int:
        """UPDATE rows of a transaction-logged table (stats-scoped
        rewrite, one atomic commit) — see :meth:`TxTable.update`."""
        return self.tx(path).update(assignments, where)

    def catalog(self, root: str):
        """Open the persistent file-backed table catalog at ``root`` —
        the Glue-catalog role of the reference, without the service; see
        :mod:`novlake_spark.catalog`."""
        from novlake_spark.catalog import Catalog

        return Catalog(self.spark, root)

    def analyze_table(self, path: str, bloom_cols: list[str] | None = None) -> int:
        """ANALYZE a transaction-logged table: retrofit min/max stats, null
        counts and requested Bloom filters onto files lacking them, metadata-only —
        see :meth:`TxTable.analyze`."""
        return self.tx(path).analyze(bloom_cols=bloom_cols)

    def replicate_table(
        self,
        source_path: str,
        target_path: str,
        key: list[str],
        checkpoint: str | None = None,
        txn_app: str | None = None,
    ):
        """CDC-replicate one transaction-logged table onto another by
        primary key — a synchronous change-feed drain applied as
        idempotent ordered MERGEs; see
        :func:`novlake_spark.replicate.replicate`. ``checkpoint`` is
        ignored: the watermark lives in the target's log."""
        from novlake_spark.replicate import replicate

        return replicate(self.spark, source_path, target_path, key, txn_app=txn_app)

    def attach_tx(
        self,
        path: str,
        name: str,
        version: int | None = None,
        timestamp_ms: int | None = None,
    ) -> None:
        """Register a transaction-logged table's snapshot as a temp view
        so :meth:`query` SQL can reference it — including ``VERSION AS
        OF`` (``version=``) and ``TIMESTAMP AS OF`` (``timestamp_ms=``)
        pins. The view binds the snapshot's FILE SET at registration
        time: concurrent commits never shift it mid-query (snapshot
        isolation carried into the SQL surface)."""
        self.register(
            name, self.tx(path).read(version=version, timestamp_ms=timestamp_ms)
        )

    def clone_table(self, path: str, target: str, version: int | None = None, deep: bool = False):
        """CLONE a transaction-logged table: shallow = one metadata
        commit referencing the source's files zero-copy (O(metadata) at
        any table size), deep = full file copy — see :meth:`TxTable.clone`."""
        return self.tx(path).clone(target, version=version, deep=deep)

    def restore_table(self, path: str, version: int) -> int:
        """Roll a transaction-logged table back to ``version`` as a new
        metadata-only commit — see :meth:`TxTable.restore`."""
        return self.tx(path).restore(version)

    def incremental_view(
        self, source_path: str, view_path: str, keys: list[str], measures: dict[str, tuple]
    ):
        """An incrementally-maintained aggregate over a transaction-
        logged table: ``refresh()`` folds only the source's change feed
        into the view (O(delta), never a base rescan) — see
        :mod:`novlake_spark.mview`."""
        from novlake_spark.mview import IncrementalAggView

        return IncrementalAggView(self.tx(source_path), view_path, keys, measures)

    def vacuum(self, base_path: str, keep_last: int = 2) -> list[int]:
        """Retention cleanup: delete all but the newest ``keep_last``
        snapshots under ``base_path``. Readers of retained versions are
        unaffected (snapshots are immutable dirs); a reader mid-scan of
        a vacuumed version fails like any retention-expired time-travel
        read — schedule vacuum beyond the longest reader horizon.
        Returns the versions removed."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        vs = sorted(self._versions(base_path))
        drop = vs[:-keep_last]
        jpath = self.spark._jvm.org.apache.hadoop.fs.Path
        for v in drop:
            target = jpath(base_path.rstrip("/") + f"/v={v}")
            fs = target.getFileSystem(self.spark._jsc.hadoopConfiguration())
            fs.delete(target, True)
        return drop

    def diff_versions(
        self, base_path: str, key: list[str], v_old: int, v_new: int | None = None
    ) -> DataFrame:
        """Change-data-capture between two snapshots: every row whose
        key was inserted, deleted, or updated from ``v_old`` to
        ``v_new`` (default latest), tagged with ``_change``. Inserts and
        updates carry the new row, deletes the old one — the Delta
        change-data-feed shape, derived from plain snapshots.

        Scale shape: each side is first reduced to
        (key, xxhash64 row fingerprint) — the full-outer join that
        classifies changes shuffles ~24 bytes/row, not the row payload;
        only CHANGED keys then join back (AQE broadcasts when the delta
        is small, the common case) to fetch their payload.
        """
        old = self.read_version(base_path, v_old)
        new = self.read_version(base_path, v_new)
        others = [c for c in new.columns if c not in key]

        def fingerprints(df: DataFrame, name: str) -> DataFrame:
            return df.select(*key, F_xxhash64(*others).alias(name))

        j = fingerprints(old, "_fp_old").join(
            fingerprints(new, "_fp_new"), key, "full_outer"
        )
        change = (
            F_when(F_col("_fp_old").isNull(), "insert")
            .when(F_col("_fp_new").isNull(), "delete")
            .when(F_col("_fp_old") != F_col("_fp_new"), "update")
        )
        changed = j.select(*key, change.alias("_change")).filter(
            F_col("_change").isNotNull()
        )
        from_new = changed.filter(F_col("_change") != "delete").join(new, key)
        from_old = changed.filter(F_col("_change") == "delete").join(old, key)
        return from_new.unionByName(from_old)

    def _versions(self, base_path: str) -> list[int]:
        # a version counts only once fully committed (_SUCCESS marker) —
        # half-written snapshots are invisible, matching the committer
        # protocol's job-level atomicity. Listed through Hadoop FS so
        # snapshot dirs on hdfs:// or s3a:// enumerate the same way.
        jpath = self.spark._jvm.org.apache.hadoop.fs.Path
        pattern = jpath(base_path.rstrip("/") + "/v=*/_SUCCESS")
        fs = pattern.getFileSystem(self.spark._jsc.hadoopConfiguration())
        statuses = fs.globStatus(pattern) or []
        return [
            int(s.getPath().getParent().getName().removeprefix("v="))
            for s in statuses
        ]

    def compact(self, path: str, target_file_mb: int = 128) -> int:
        """Small-file compaction: rewrite a Parquet prefix into files of
        ~``target_file_mb``. The perennial lake maintenance op —
        streaming/append workloads produce many small files, and scan
        cost at 100 TB is dominated by file-open overhead once files
        fall below ~tens of MB. Returns the new file count.
        """
        df = self.spark.read.parquet(path)
        jp = self.spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jp.getFileSystem(self.spark._jsc.hadoopConfiguration())
        size_b = int(fs.getContentSummary(jp).getLength())
        n_files = max(1, -(-size_b // (target_file_mb * 1024 * 1024)))
        tmp = path.rstrip("/") + "_compacting"
        df.repartition(n_files).write.mode("overwrite").parquet(tmp)
        # swap through the Hadoop FS layer (portable; semantics in
        # _replace_prefix) — readers see old or new prefix, not a mix
        self._replace_prefix(tmp, path)
        return n_files
