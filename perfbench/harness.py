"""Run-time state shared by the workloads: the Spark session and its
set-up, timed operations, failure counting and memory measurement."""

from __future__ import annotations

import contextlib
import math
import os
import resource
import statistics
import sys
import time
import traceback

from perfbench.spans import Span, Tracer

#: Task slots: one fewer than the 4-core box the benchmark is tuned on,
#: so GC, JIT and Python workers do not contend with tasks.
SLOTS = max(1, min(3, (os.cpu_count() or 2) - 1))
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "2g"
#: A fixed heap and young generation: left to G1's sizing heuristics,
#: which react to pause times and so to the host's load, the JVM's peak
#: RSS moved by a quarter between runs of the same work.
DRIVER_JAVA_OPTIONS = f"-Xms{DRIVER_MEMORY} -Xmn512m"
#: Consecutive failed operations after which a run stops early.
MAX_FAIL_STREAK = 5


class Bench:
    """One benchmark run: a workload's session, timed operations and
    outcomes."""

    def __init__(self, tmp: str, seed: int, seconds: float, trace: bool):
        self.tmp, self.seed, self.seconds = tmp, seed, seconds
        self.tracer = Tracer(trace)
        self.spark = None
        self.lake = None
        #: seconds spent inside timed operations
        self.clock = 0.0
        self.attempted = 0
        self.failed = 0
        #: end-of-run checks passed (per-op checks count in ``failed``)
        self.final_ok = True
        self._streak = 0
        self._next_op = 0
        #: op id → root span (traced runs) and kind
        self.ops: dict[int, Span] = {}
        self.op_kind: dict[int, str] = {}
        #: latency samples by name (seconds), reported on the samples line
        self.samples: dict[str, list[float]] = {}
        self.setup_s = 0.0
        self.build_s = 0.0

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def span(self, name: str):
        return self.tracer.span(name)

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def units(self, nominal_s: float) -> range:
        """The run's units of work: as many as take ``seconds`` at a unit's
        nominal time on the reference box (4 cores, ``local[3]``). The
        work is fixed by ``seconds`` alone, so a slower or faster machine
        or program changes the times, never the work measured."""
        return range(max(1, math.ceil(self.seconds / nominal_s)))

    def failing(self) -> bool:
        """Too many consecutive failed operations to go on."""
        return self._streak >= MAX_FAIL_STREAK

    # -- session -------------------------------------------------------------
    def start_session(self):
        from novlake_spark import Lake, get_session

        extra = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": DRIVER_JAVA_OPTIONS,
            "spark.local.dir": f"{self.tmp}/local",
            "spark.sql.warehouse.dir": f"{self.tmp}/warehouse",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            os.makedirs(f"{self.tmp}/eventlog", exist_ok=True)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"{self.tmp}/eventlog",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
            self._watch_change_feed()
        with self.span("session.start"):
            self.spark = get_session(
                "perfbench", master=f"local[{SLOTS}]",
                shuffle_partitions=SHUFFLE_PARTITIONS, extra=extra,
            )
        self.lake = Lake(self.spark)
        return self.spark

    def _watch_change_feed(self) -> None:
        """Wrap ``TxTable.changes`` at class level in a ``txlog.changes``
        span, so that calls from inside the program are counted too (the
        view's refresh plans its delta through it). The bypass checks
        read these spans."""
        from novlake_spark.txlog import TxTable

        inner, span = TxTable.changes, self.span

        def changes(table, *args, **kwargs):
            with span("txlog.changes"):
                return inner(table, *args, **kwargs)

        TxTable.changes = changes

    def setup(self, workload) -> None:
        """One cold set-up: ``get_session`` launches the JVM, then the
        workload attaches its tables and warms up through the program.
        The tables are built in between, from the generated inputs; that
        is input generation, so its time is left out of ``setup_s``.
        Set-ups are not repeated within a run: each one launches a JVM
        (5–9 s), so the driver's median over runs stands in for a median
        within one."""
        t0 = time.perf_counter()
        self.start_session()
        t1 = time.perf_counter()
        workload.build()
        self.build_s = time.perf_counter() - t1
        workload.attach()
        with self.span("session.warmup"):
            workload.warmup()
        self.setup_s = time.perf_counter() - t0 - self.build_s

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait until the JVM and its
        Python workers have exited."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        jvm_pid = self.jvm_pid()
        workers = _children(jvm_pid)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 30
        while any(os.path.exists(f"/proc/{p}") for p in workers) and time.time() < deadline:
            time.sleep(0.05)

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def peak_mem_mb(self) -> tuple[float, float]:
        """Peak RSS in MB of the driver JVM and of the Python driver: the
        kernel's high-water mark ``VmHWM`` of the JVM and ``ru_maxrss`` of
        this process. Both are per-process peaks, so their sum bounds the
        joint peak from above."""
        with open(f"/proc/{self.jvm_pid()}/status") as fh:
            hwm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        return hwm_kb / 1024.0, resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

    # -- timed operations -----------------------------------------------------
    @contextlib.contextmanager
    def op(self, kind: str):
        """Time one operation into the clock. Sets the Spark job group
        ``op<id>`` and, traced, opens the operation's root span. An
        exception counts the operation as failed and is not re-raised;
        ``rec["ok"] = False`` marks a failed output check."""
        oid = self._next_op
        self._next_op += 1
        self.attempted += 1
        self.op_kind[oid] = kind
        self.spark.sparkContext.setJobGroup(f"op{oid}", kind)
        rec = {"id": oid, "ok": True, "wall": 0.0}
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}", op=oid) as s:
                if s is not None:
                    self.ops[oid] = s
                yield rec
        except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            rec["ok"] = False
        finally:
            rec["wall"] = time.perf_counter() - t0
            self.clock += rec["wall"]
            self.spark.sparkContext.setJobGroup("bench", "outside timed operations")
        if rec["ok"]:
            self._streak = 0
        else:
            self.failed += 1
            self._streak += 1

    def fail_check(self, rec: dict, why: str) -> None:
        """Count ``rec`` as failed because its output check failed."""
        print(f"check failed (op {rec['id']}): {why}", file=sys.stderr)
        if rec["ok"]:
            rec["ok"] = False
            self.failed += 1
            self._streak += 1

    def fail_final(self, why: str) -> None:
        """An end-of-run check failed: the run is not correct."""
        print(f"final check failed: {why}", file=sys.stderr)
        self.final_ok = False

    # -- per-layer figures ------------------------------------------------------
    def span_walls(self, name: str) -> list[float]:
        """Walls of the spans named ``name`` inside timed operations, or of
        all of them when none is (set-up spans)."""
        named = [s for s in self.tracer.spans if s.name == name]
        return [s.wall for s in ([s for s in named if s.op is not None] or named)]

    def span_median(self, name: str) -> float:
        walls = self.span_walls(name)
        return statistics.median(walls) if walls else 0.0


def _children(pid: int) -> list[int]:
    """Direct child processes of ``pid`` (the JVM's Python workers)."""
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as fh:
                out.extend(int(p) for p in fh.read().split())
        except OSError:
            continue
    return out
