"""cdc_freshness: a source commit, then the view and the replica catch up.

Each tick makes one source commit, runs ``IncrementalAggView.refresh()``
and then drains one ``availableNow`` replication query. A cycle is an
append, an upsert MERGE, a second append and a ``restore`` that rolls
that append back; ``--seconds`` sets the number of cycles.
Freshness is the time from the start of the source commit until both
the view and the replica reflect it. ``op_p50_s`` is the median over
append ticks alone, so that it compares ticks of one kind; ``pass_s``
is a cycle's total, all four kinds included.

Every change-feed window here is one commit, so the known over-count of
a window that holds a file's original add and its re-add by ``restore``
cannot occur, and these checks cannot report it.

This is the only workload where the change-feed planners
(``TxTable.changes`` behind the view, the streaming source behind the
replica) and the streaming sink do most of the work.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

from perfbench import checks, gen

INITIAL_ROWS = 5_000
APPEND_ROWS = 1_000
#: keys touched by one MERGE (half updated, half new)
TOUCH = 200
#: source commits of one cycle; ``restore`` rolls the second append back
CYCLE = ("append", "merge", "append", "restore")
#: nominal seconds of one cycle on the reference box
CYCLE_S = 30.0
MEASURES = {"n": ("count",), "sv": ("sum", "v")}


class CdcFreshness:
    CHANGE_FEED = True

    def __init__(self, b):
        self.b = b
        base = f"{b.tmp}/cdc"
        self.spath, self.vpath, self.rpath = f"{base}/source", f"{base}/view", f"{base}/replica"
        self.ckpt = f"{base}/replica_ckpt"
        self.stage_dir = f"{base}/staged"
        self.rng = np.random.default_rng([b.seed, 300])
        self.next_key = 0
        self.n_staged = 0
        #: replayed snapshots of the head version and the one before it
        #: (the restore target)
        self.history: dict[int, pd.DataFrame] = {}
        self.head = None
        self.cycles: list[float] = []
        self.stream: dict[str, list[float]] = {}
        self.read_amp: list[float] = []
        self.change_rows: list[int] = []

    # -- inputs -----------------------------------------------------------------
    def _stage(self, keys: np.ndarray) -> tuple[str, pd.DataFrame]:
        rows = gen.keyed_rows(self.b.seed, 1000 + self.n_staged, keys)
        path = f"{self.stage_dir}/batch-{self.n_staged:05d}.parquet"
        self.n_staged += 1
        gen.write(rows, path)
        return path, rows.to_pandas()

    def _fresh(self, n: int) -> np.ndarray:
        keys = np.arange(self.next_key, self.next_key + n, dtype=np.int64)
        self.next_key += n
        return keys

    def prepare(self) -> None:
        self.initial = self._stage(self._fresh(INITIAL_ROWS))

    # -- set-up -----------------------------------------------------------------
    def build(self) -> None:
        """The source's first commit, and the view and replica caught up
        with it."""
        b = self.b
        path, rows = self.initial
        v = b.lake.tx(self.spath).commit(b.spark.read.parquet(path))
        b.lake.incremental_view(self.spath, self.vpath, ["grp"], MEASURES).refresh()
        b.lake.replicate_table(self.spath, self.rpath, ["k"], self.ckpt).awaitTermination()
        self.history[v] = rows
        self.head = v

    def attach(self) -> None:
        b = self.b
        with b.span("lake.tx_open"):
            self.src = b.lake.tx(self.spath)
        self.view = b.lake.incremental_view(self.spath, self.vpath, ["grp"], MEASURES)
        self.replica = b.lake.tx(self.rpath)

    def warmup(self) -> None:
        """The view's refresh and the replica's head: both read their
        logs and find nothing to do."""
        self.view.refresh()
        self.replica.latest_version()

    def prime(self) -> None:
        """Nothing: the table build already ran one tick's worth of each
        layer, and a tick is too long to spend untimed."""

    # -- the loop ---------------------------------------------------------------
    def run(self) -> None:
        for _ in self.b.units(CYCLE_S):
            t0 = self.b.clock
            for kind in CYCLE:
                if self.b.failing():
                    return
                self._tick(kind)
            self.cycles.append(self.b.clock - t0)

    def _tick(self, kind: str) -> None:
        b, src = self.b, self.src
        m = self.history[self.head]
        if kind in ("append", "merge"):
            if kind == "append":
                keys = self._fresh(APPEND_ROWS)
            else:
                old = self.rng.choice(m["k"].to_numpy(), TOUCH // 2, replace=False)
                keys = np.concatenate([np.sort(old), self._fresh(TOUCH // 2)])
            path, rows = self._stage(keys)
            df = b.spark.read.parquet(path)
        else:
            target = self.head - 1
            if target not in self.history:  # only after a failed tick
                self.history[target] = src.read(version=target).toPandas()
        with b.op("tick") as rec:
            with b.span(f"txlog.{kind}"):
                if kind == "append":
                    v = src.commit(df)
                elif kind == "merge":
                    v = src.merge(df, ["k"])
                else:
                    v = src.restore(target)
            with b.span("mview.refresh"):
                self.view.refresh()
            with b.span("replicate.tick"):
                t0 = time.perf_counter()
                q = b.lake.replicate_table(self.spath, self.rpath, ["k"], self.ckpt)
                q.awaitTermination()
                tick_wall = time.perf_counter() - t0
        if not rec["ok"]:
            # what landed is unknown: continue from the table as it is
            self.head = src.latest_version()
            self.history = {self.head: src.read().toPandas()}
            return
        b.sample(kind, rec["wall"])
        prev = self.head
        if kind == "append":
            new = pd.concat([m, rows], ignore_index=True)
        elif kind == "merge":
            new = pd.concat([m[~m["k"].isin(rows["k"])], rows], ignore_index=True)
        else:
            new = self.history[target]
        self.history = {prev: m, v: new}
        self.head = v
        self._check(rec, new)
        if b.traced:
            self._trace_tick(q, tick_wall, prev, v, self._changed(m, new))

    @staticmethod
    def _changed(old: pd.DataFrame, new: pd.DataFrame) -> int:
        """Rows a commit logically changed: the multiset difference of the
        snapshots, both ways (an update counts once per side)."""
        both = old.merge(new, how="outer", indicator=True)
        return int((both["_merge"] != "both").sum())

    def _check(self, rec: dict, want: pd.DataFrame) -> None:
        b = self.b
        got = self.src.read().toPandas()
        if diff := checks.same_rows(got, want, ["k"]):
            b.fail_check(rec, f"source snapshot differs from the replayed op log: {diff}")
        if diff := checks.same_rows(self.replica.read().toPandas(), got, ["k"]):
            b.fail_check(rec, f"replica differs from the source: {diff}")
        agg = got.groupby("grp", as_index=False).agg(n=("k", "size"), sv=("v", "sum"))
        if diff := checks.same_rows(self.view.read().toPandas(), agg, ["grp"]):
            b.fail_check(rec, f"view differs from a group-by over the source: {diff}")

    def _trace_tick(self, q, tick_wall: float, prev: int, v: int, changed: int) -> None:
        """Traced runs only: stream progress of the drain, and the change
        feed of the same window, planned and counted outside the clock."""
        b = self.b
        trigger = rows = 0.0
        for p in q.recentProgress:
            dur = p.durationMs or {}
            rows += p.numInputRows or 0
            trigger += dur.get("triggerExecution", 0) / 1000.0
            for key, name in (("addBatch", "add_batch"), ("queryPlanning", "query_planning"),
                              ("latestOffset", "latest_offset"), ("walCommit", "wal_commit")):
                self.stream.setdefault(name, []).append(dur.get(key, 0) / 1000.0)
        self.stream.setdefault("lifecycle", []).append(tick_wall - trigger)
        if changed:
            self.read_amp.append(rows / changed)
        with b.span("txlog.changes_plan"):
            ch = self.src.changes(prev, v)
        with b.span("txlog.changes_exec"):
            self.change_rows.append(ch.count())

    # -- checks and figures ---------------------------------------------------------
    def finish(self) -> None:
        """Every tick is checked as it lands; nothing is left for the end."""

    def e2e(self) -> dict[str, float]:
        return {
            "op_p50_s": statistics.median(self.b.samples["append"]),
            "pass_s": statistics.median(self.cycles),
        }

    def layer(self) -> dict[str, float]:
        out = {f"stream.{k}_s": statistics.median(v) for k, v in self.stream.items()}
        out.update({
            "replicate.read_amp": statistics.mean(self.read_amp) if self.read_amp else 0.0,
            "mview.delta_rows": statistics.mean(self.change_rows),
            "txlog.changes_rows": sum(self.change_rows),
            "bypass.clock_commits": sum(len(self.b.samples.get(k, [])) for k in set(CYCLE)),
        })
        return out
