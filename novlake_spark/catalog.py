"""A persistent, file-backed table catalog — the role the reference
delegated to AWS Glue (SURVEY.md §1: novlake registered every table in
the Glue catalog so Athena could name it), re-expressed without any
service dependency: one versioned JSON document under the catalog root,
published through the transaction log's filesystem seam — the same
four methods (list, read, create-if-absent claim, delete), picked by
the same scheme rule (``os`` for local and ``file:`` roots, Hadoop over
py4j elsewhere) — so two concurrent registrations can't tear it. The
catalog holds no data files, so nothing of it needs Hadoop on a local
root.

Entries name either a transaction-logged table (``format="txlog"``) or
a plain directory of files (``parquet``/``csv``/``json``). ``attach``
registers every entry as a temp view in a session, after which the SQL
surface (``Lake.query``) can name them — including snapshot-pinned
views of txlog tables, carrying snapshot isolation into SQL.

Scale note: the catalog document is O(tables), not O(data); a thousand
tables is a ~100 KB JSON file read once per session. Concurrent
mutation throughput is one claim per change — catalogs change at
human cadence, not data cadence, so contention is not a real concern
(and losers just retry against the fresh document).
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession

from novlake_spark.txlog import _numbered, _seam


class CatalogConflict(Exception):
    """Lost too many update races (or the entry changed underneath a
    compare-and-swap)."""


class Catalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        self.fs = _seam(spark, self.root)

    # The document is VERSIONED exactly like the transaction log:
    # catalog-<N>.json, with N+1 claimed create-if-absent. A
    # delete-then-replace single file would be last-writer-wins — two
    # racing registrations would silently drop one entry (a real bug
    # the concurrency test caught in the first cut of this module).
    def _file(self, v: int) -> str:
        return f"{self.root}/catalog-{v}.json"

    def _versions(self) -> list[int]:
        return _numbered(self.fs.listdir(self.root), "catalog-")

    def _read(self, _retry: bool = True) -> dict:
        vs = self._versions()
        if not vs:
            return {"version": -1, "tables": {}}
        try:
            data = self.fs.read(self._file(vs[-1]))
        except Exception:
            # list→read race with the mutators' lazy retention (4+
            # updates landed in between): the fresh listing has the
            # newer document
            if _retry:
                return self._read(_retry=False)
            raise
        doc = json.loads(data.decode())
        doc["version"] = vs[-1]
        return doc

    def _mutate(self, fn, max_retries: int = 20) -> None:
        for _ in range(max_retries):
            doc = self._read()
            fn(doc)
            next_v = doc.pop("version") + 1
            if self.fs.claim(self._file(next_v), json.dumps(doc, indent=1).encode()):
                for v in self._versions():  # lazy retention: keep a few
                    if v < next_v - 3:
                        self.fs.delete(self._file(v))
                return
            # lost the slot; re-read and retry
        raise CatalogConflict(f"lost {max_retries} catalog update races")

    # -- public surface ----------------------------------------------------
    def register(self, name: str, path: str, fmt: str = "txlog", replace: bool = False) -> None:
        """Name a table. ``fmt``: ``txlog`` (transaction-logged) or a
        Spark file format (``parquet``/``csv``/``json``)."""

        def apply(doc: dict) -> None:
            if not replace and name in doc["tables"]:
                raise ValueError(f"table {name!r} already registered (replace=True to overwrite)")
            doc["tables"][name] = {"path": path, "format": fmt}

        self._mutate(apply)

    def drop(self, name: str) -> None:
        def apply(doc: dict) -> None:
            if name not in doc["tables"]:
                raise KeyError(name)
            del doc["tables"][name]

        self._mutate(apply)

    def tables(self) -> dict[str, dict]:
        return dict(self._read()["tables"])

    def load(self, name: str, version: int | None = None, timestamp_ms: int | None = None):
        """DataFrame for a cataloged table; txlog entries support
        version / timestamp pins (snapshot isolation into SQL)."""
        entry = self._read()["tables"].get(name)
        if entry is None:
            raise KeyError(f"no table {name!r} in catalog {self.root}")
        if entry["format"] == "txlog":
            from novlake_spark.txlog import TxTable

            return TxTable(self.spark, entry["path"]).read(
                version=version, timestamp_ms=timestamp_ms
            )
        if version is not None or timestamp_ms is not None:
            raise ValueError(f"{name!r} is {entry['format']}; time travel needs a txlog table")
        return self.spark.read.format(entry["format"]).load(entry["path"])

    def attach(self, names: list[str] | None = None) -> list[str]:
        """Register cataloged tables as temp views in this session;
        returns the attached names."""
        entries = self.tables()
        wanted = names if names is not None else sorted(entries)
        for name in wanted:
            self.load(name).createOrReplaceTempView(name)
        return list(wanted)
