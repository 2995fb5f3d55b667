"""lake_ingest: one long-lived ``TxTable`` takes a seeded stream of writes.

Each cycle is ``CYCLE`` write operations — appends of fresh key ranges
from staged parquet batches, and one each of an upsert MERGE, a
deletion-vector DELETE and a scoped UPDATE at seeded positions — then
``optimize(zorder_by=…)`` and ``vacuum``. Auto-checkpoints run at the
table's default cadence. ``--seconds`` sets the number of cycles.

Stresses the commit path and maintenance; bypasses the change feed and
the Python operators, and its whole log fits the writer's entry cache.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics

import numpy as np
import pandas as pd

from perfbench import checks, gen

CYCLE = 9
#: nominal seconds of one cycle on the reference box
CYCLE_S = 7.0
INITIAL_ROWS = 10_000
APPEND_ROWS = 2_500
#: keys touched by one MERGE (half updated, half new), DELETE or UPDATE
TOUCH = 400
NON_APPEND = ("merge", "delete_dv", "update")


def walk(root: str) -> dict[str, tuple[int, int]]:
    """Relative path → (size, mtime) of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.relpath(os.path.join(d, f), root)] = (st.st_size, st.st_mtime_ns)
    return out


class LakeIngest:
    CHANGE_FEED = False

    def __init__(self, b):
        self.b = b
        self.path = f"{b.tmp}/ingest/table"
        self.stage_dir = f"{b.tmp}/ingest/staged"
        self.rng = np.random.default_rng([b.seed, 100])
        self.model = pd.DataFrame()
        self.next_key = 0
        self.n_staged = 0
        self.table = None
        self.staged_bytes = 0
        self.written_bytes = 0
        self.log_bytes = 0
        self.versions: list[int] = []
        self.ckpt_walls: list[float] = []
        self.cycles: list[float] = []

    # -- inputs -----------------------------------------------------------------
    def _stage(self, keys: np.ndarray) -> tuple[str, pd.DataFrame, int]:
        rows = gen.keyed_rows(self.b.seed, self.n_staged, keys)
        path = f"{self.stage_dir}/batch-{self.n_staged:05d}.parquet"
        self.n_staged += 1
        return path, rows.to_pandas(), gen.write(rows, path)

    def _fresh(self, n: int) -> np.ndarray:
        keys = np.arange(self.next_key, self.next_key + n, dtype=np.int64)
        self.next_key += n
        return keys

    def prepare(self) -> None:
        self.initial = self._stage(self._fresh(INITIAL_ROWS))

    # -- set-up -----------------------------------------------------------------
    def build(self) -> None:
        from novlake_spark.txlog import TxTable

        path, rows, _ = self.initial
        TxTable(self.b.spark, self.path).commit(self.b.spark.read.parquet(path))
        self.model = rows

    def attach(self) -> None:
        with self.b.span("lake.tx_open"):
            self.table = self.b.lake.tx(self.path)
        self.table.latest_version()

    def warmup(self) -> None:
        """One untimed append, so the commit path is compiled before the
        clock starts."""
        self._write("append", timed=False)

    def prime(self) -> None:
        """One untimed run of each write other than the warm-up's append,
        and of ``optimize``: first runs compile code paths, and cost up to
        ten times the steady state by an amount that varies with the
        host's load."""
        for kind in NON_APPEND:
            self._write(kind, timed=False)
        self._maintain("optimize", timed=False)

    # -- the loop ---------------------------------------------------------------
    def run(self) -> None:
        for _ in self.b.units(CYCLE_S):
            if self.b.failing():
                break
            kinds = ["append"] * (CYCLE - len(NON_APPEND)) + list(NON_APPEND)
            t0 = self.b.clock
            for kind in self.rng.permutation(kinds):
                self._write(str(kind))
            self._maintain("optimize")
            self._maintain("vacuum")
            self.cycles.append(self.b.clock - t0)

    def _write(self, kind: str, timed: bool = True) -> None:
        b, t = self.b, self.table
        spark = b.spark
        before = walk(self.path)
        m = self.model
        if kind in ("append", "merge"):
            if kind == "append":
                keys = self._fresh(APPEND_ROWS)
            else:
                old = self.rng.choice(m["k"].to_numpy(), TOUCH // 2, replace=False)
                keys = np.concatenate([np.sort(old), self._fresh(TOUCH // 2)])
            path, rows, size = self._stage(keys)
            self.staged_bytes += size if timed else 0
            src = spark.read.parquet(path)
        else:
            lo = int(self.rng.choice(m["k"].to_numpy()))
            where = [("k", ">=", lo), ("k", "<", lo + TOUCH)]
        with b.op("write") if timed else contextlib.nullcontext({"ok": True}) as rec:
            with b.span(f"txlog.{kind}"):
                if kind == "append":
                    v = t.commit(src)
                elif kind == "merge":
                    v = t.merge(src, ["k"])
                elif kind == "delete_dv":
                    v = t.delete(where, dv=True)
                else:
                    v = t.update({"v": "v + 1"}, where)
        if not rec["ok"]:
            # what landed is unknown: continue from the table as it is
            self.model = t.read().toPandas()
            return
        if timed:
            b.sample("write", rec["wall"])
            if v % t.checkpoint_interval == 0:
                self.ckpt_walls.append(rec["wall"])
            self.versions.append(v)
        # the replay model: the op log applied to a pandas frame
        if kind == "append":
            self.model = pd.concat([m, rows], ignore_index=True)
        elif kind == "merge":
            self.model = pd.concat([m[~m["k"].isin(rows["k"])], rows], ignore_index=True)
        else:
            hit = (m["k"] >= lo) & (m["k"] < lo + TOUCH)
            if kind == "delete_dv":
                self.model = m[~hit].reset_index(drop=True)
            else:
                self.model = m.assign(v=np.where(hit, m["v"] + 1, m["v"]))
        if timed:
            self._count_written(before)

    def _maintain(self, kind: str, timed: bool = True) -> None:
        b, t = self.b, self.table
        before = walk(self.path)
        with b.op("maint") if timed else contextlib.nullcontext({"ok": True}) as rec:
            with b.span(f"txlog.{kind}"):
                if kind == "optimize":
                    v = t.optimize(zorder_by=["k", "grp"])
                else:
                    t.vacuum(t.latest_version(), retain_ms=0)
        if rec["ok"] and timed:
            b.sample(kind, rec["wall"])
            if kind == "optimize":
                self.versions.append(v)
            self._count_written(before)

    def _count_written(self, before: dict) -> None:
        for rel, stat in walk(self.path).items():
            if before.get(rel) != stat:
                self.written_bytes += stat[0]
                if rel.startswith("_log"):
                    self.log_bytes += stat[0]

    # -- checks and figures ---------------------------------------------------------
    def finish(self) -> None:
        t = self.table
        got = t.read().toPandas()
        diff = checks.same_rows(got, self.model, ["k"])
        missing = t.fsck()
        if diff:
            self.b.fail_final(f"snapshot differs from the replayed op log: {diff}")
        if missing:
            self.b.fail_final(f"fsck reports missing files: {missing}")

    def e2e(self) -> dict[str, float]:
        return {
            "op_p50_s": statistics.median(self.b.samples["write"]),
            "pass_s": statistics.median(self.cycles),
        }

    def layer(self) -> dict[str, float]:
        t = self.table
        added = removed = 0
        for v in set(self.versions):
            with open(f"{self.path}/_log/{v}.json") as fh:
                entry = json.load(fh)
            added += len(entry.get("add", []))
            removed += len(entry.get("remove", []))
        live = sum(os.path.getsize(f"{self.path}/data/{f}") for f in t.snapshot_files())
        total = sum(size for size, _ in walk(self.path).values())
        return {
            "txlog.ckpt_commit_s": statistics.median(self.ckpt_walls) if self.ckpt_walls else 0.0,
            "txlog.files_added": added,
            "txlog.files_removed": removed,
            "txlog.bytes_written": self.written_bytes,
            "txlog.log_bytes": self.log_bytes,
            "txlog.write_amp": self.written_bytes / self.staged_bytes,
            "txlog.space_amp": total / live,
            "bypass.clock_commits": len(set(self.versions)),
        }
