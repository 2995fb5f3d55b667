"""analyst_read: key-range lookups interleaved with a fixed SQL report set.

Before the clock starts, a lineitem-shaped table of ~150k rows is built
through ``BATCHES`` commits, so snapshot resolution folds a checkpoint
(every 10th version) plus a tail. Each lookup opens a fresh ``TxTable`` through ``Lake.tx``
(its entry cache starts cold: the working set is larger than the
program's cache) and counts a key range; every ``LOOKUPS_PER_PASS``
lookups, one pass runs the report set through ``Lake.query`` over
``attach_tx`` and ``attach_dir`` views, plus one registry operator
(a row-at-a-time Python UDF, executed as a noop write) whose tracked
persists are then released. No commit happens inside the clock.

Lookups are dominated by driver-side log work; reports by Spark scan
and shuffle, and the operator by the Python boundary.
"""

from __future__ import annotations

import statistics

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench import checks, gen

BATCHES = 12
LOOKUPS_PER_PASS = 8
#: nominal seconds of one round (the lookups and one report pass)
ROUND_S = 3.0
#: orders per lookup range (~4 lines each)
LOOKUP_ORDERS = 200
DIMS = ("orders", "customer", "supplier", "nation", "part")
#: registry key in the report pass; reads ``orders`` from the dims
OPERATOR = "q_udf_scalar"

REPORTS = {
    "scan_agg": """
        SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty,
               sum(l_extendedprice) AS price,
               sum(l_extendedprice * (1 - l_discount)) AS disc_price
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus""",
    "join5": """
        SELECT n.n_name, count(*) AS n, sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE c.c_nationkey = s.s_nationkey
          AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n.n_name""",
    "topk": """
        SELECT p.p_brand, count(*) AS n, sum(l.l_quantity) AS qty
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_size <= 10
        GROUP BY p.p_brand ORDER BY qty DESC, p.p_brand LIMIT 10""",
}


class AnalystRead:
    CHANGE_FEED = False

    def __init__(self, b):
        self.b = b
        self.input = f"{b.tmp}/analyst/input"
        self.path = f"{b.tmp}/analyst/lineitem"
        self.rng = np.random.default_rng([b.seed, 200])
        self.results: dict[str, pd.DataFrame] = {}
        self.skips: list[float] = []
        self.released: list[int] = []
        self.operator_out = None
        self.head = None

    def prepare(self) -> None:
        self.batches = gen.analyst(self.b.seed, self.input, BATCHES)
        self.okeys = np.sort(np.concatenate(
            [pq.read_table(p, columns=["l_orderkey"])["l_orderkey"].to_numpy() for p in self.batches]))

    def build(self) -> None:
        from novlake_spark.txlog import TxTable

        spark = self.b.spark
        t = TxTable(spark, self.path)
        for p in self.batches:
            t.commit(spark.read.parquet(p))

    def attach(self) -> None:
        from novlake_spark import queries

        b = self.b
        self.queries = queries()
        with b.span("lake.attach_tx"):
            b.lake.attach_tx(self.path, "lineitem")
        for name in DIMS:
            with b.span("sources.load_table"):
                b.lake.attach_dir(f"{self.input}/dims", [name])

    def warmup(self) -> None:
        self._lookup_once()

    def prime(self) -> None:
        """Untimed lookups until the driver-side read path is compiled: the
        first few in a JVM run up to twice as long, by an amount that
        varies with the host's load. (The first report pass is timed; with
        four rounds its code generation stays out of the median.)"""
        for _ in range(LOOKUPS_PER_PASS):
            self._lookup_once()

    def run(self) -> None:
        self.head = self.b.lake.tx(self.path).latest_version()
        for _ in self.b.units(ROUND_S):
            if self.b.failing():
                break
            for _ in range(LOOKUPS_PER_PASS):
                self._lookup()
            self._report()

    def _lookup_once(self) -> tuple[int, int, object]:
        b = self.b
        lo = int(self.rng.integers(0, int(self.okeys[-1]) - LOOKUP_ORDERS))
        where = [("l_orderkey", ">=", lo), ("l_orderkey", "<", lo + LOOKUP_ORDERS)]
        with b.span("lake.tx_open"):
            t = b.lake.tx(self.path)
        with b.span("txlog.read_plan"):
            df = t.read(where=where)
        with b.span("txlog.read_exec"):
            n = df.count()
        return lo, n, t

    def _lookup(self) -> None:
        b = self.b
        with b.op("lookup") as rec:
            lo, n, t = self._lookup_once()
        if not rec["ok"]:
            return
        b.sample("lookup", rec["wall"])
        want = int(np.searchsorted(self.okeys, lo + LOOKUP_ORDERS) - np.searchsorted(self.okeys, lo))
        if n != want:
            b.fail_check(rec, f"lookup [{lo}, {lo + LOOKUP_ORDERS}) counted {n}, expected {want}")
        if b.traced:
            plan = t.scan_plan([("l_orderkey", ">=", lo), ("l_orderkey", "<", lo + LOOKUP_ORDERS)])
            self.skips.append(plan["scanned"] / plan["total"])

    def _report_once(self) -> dict:
        from novlake_spark.cache import release_tracked

        b = self.b
        out = {}
        for name, sql in REPORTS.items():
            with b.span("lake.query_analyze"):
                df = b.lake.query(sql)
            with b.span("lake.query_exec"):
                out[name] = df.toPandas()
        with b.span(f"registry.{OPERATOR}.build"):
            df = self.queries[OPERATOR](b.spark, f"{self.input}/dims")
        with b.span(f"registry.{OPERATOR}.exec"):
            df.write.format("noop").mode("overwrite").save()
        with b.span("cache.release_tracked"):
            self.released.append(release_tracked())
        if self.operator_out is None:
            self.operator_out = df
        return out

    def _report(self) -> None:
        b = self.b
        with b.op("report") as rec:
            out = self._report_once()
        if not rec["ok"]:
            return
        b.sample("report", rec["wall"])
        for name, frame in out.items():
            first = self.results.setdefault(name, frame)
            if first is not frame and (diff := checks.close_rows(frame, first, rel=1e-12)):
                b.fail_check(rec, f"report {name} changed between passes: {diff}")

    def finish(self) -> None:
        """Each distinct query once against DuckDB over the same files."""
        con = duckdb.connect()
        con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{self.input}/lineitem/*.parquet')")
        for name in DIMS:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{self.input}/dims/{name}.parquet')")
        for name, got in self.results.items():
            want = con.execute(REPORTS[name]).fetchdf()
            if diff := checks.close_rows(got.astype(want.dtypes.to_dict()), want):
                self.b.fail_final(f"report {name} differs from DuckDB: {diff}")
        from novlake_spark import oracle_sql

        got = self.operator_out.toPandas()
        want = con.execute(oracle_sql()[OPERATOR]).fetchdf()
        if checks.canon_hash(got) != checks.canon_hash(want):
            self.b.fail_final(f"{OPERATOR} differs from its DuckDB oracle ({len(got)} vs {len(want)} rows)")
        if self.b.lake.tx(self.path).latest_version() != self.head:
            self.b.fail_final("a commit landed inside the clock")

    def e2e(self) -> dict[str, float]:
        return {
            "op_p50_s": statistics.median(self.b.samples["lookup"]),
            "pass_s": statistics.median(self.b.samples["report"]),
        }

    def layer(self) -> dict[str, float]:
        return {
            "txlog.skip_ratio": statistics.mean(self.skips),
            "cache.released": statistics.mean(self.released),
            "bypass.clock_commits": self.b.lake.tx(self.path).latest_version() - self.head,
        }
