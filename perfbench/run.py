"""Lake benchmark: one closed-loop, single-client workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads, metrics and the layer map
are described in ``perfbench/README.md``; metric names and units come
from ``BENCHMARK.json``. The last stdout line is the result object; the
line before it records the run's configuration and raw samples.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _workloads():
    from perfbench.workloads.analyst import AnalystRead
    from perfbench.workloads.cdc import CdcFreshness
    from perfbench.workloads.ingest import LakeIngest

    return {
        "lake_ingest": LakeIngest,
        "analyst_read": AnalystRead,
        "cdc_freshness": CdcFreshness,
    }


def _source_digest() -> str:
    """Content hash of the program's sources: a checkout need not be a
    git repository, so this identifies the code either way."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "novlake_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _git_sha() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def _isolate(tmp: str) -> None:
    """Point every scratch location of Python, Spark and the JVM into this
    run's own directory, and make the checkout importable by Spark's
    Python workers (they inherit the environment, not ``sys.path``)."""
    for sub in ("jvm", "local", "py"):
        os.makedirs(f"{tmp}/{sub}", exist_ok=True)
    os.environ["TMPDIR"] = f"{tmp}/py"
    os.environ["SPARK_LOCAL_DIRS"] = f"{tmp}/local"
    # every JVM (the launcher too): no hsperfdata files in the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}/jvm"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.chdir(tmp)


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU time between two ``/proc/stat`` readings that the
    hypervisor gave to other guests: how loud the host was."""
    d = [y - x for x, y in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _layer_metrics(b, wl, names: list[str]) -> dict[str, float]:
    from perfbench import spans

    out = dict.fromkeys(names, 0.0)
    # timings of the layer calls, by span name (``txlog.append_s`` ←
    # spans ``txlog.append``); the first session start launches the JVM
    for name in names:
        stem = name.removesuffix("_s")
        if name.endswith("_s") and not name.startswith("spark.") and b.span_walls(stem):
            out[name] = b.span_median(stem)
    out.update(wl.layer())
    # bypass evidence: change-feed plans, the program's own included
    out["bypass.changes_spans"] = sum(s.name == "txlog.changes" for s in b.tracer.spans)
    if not wl.CHANGE_FEED and out["bypass.changes_spans"]:
        b.fail_final(f"{out['bypass.changes_spans']} change-feed plans in a workload that bypasses it")
    # Spark's own figures per operation kind, averaged per operation
    per_op = spans.op_spark_metrics(spans.read_event_logs(f"{b.tmp}/eventlog"), b.ops)
    for kind in set(b.op_kind.values()):
        ids = [oid for oid, k in b.op_kind.items() if k == kind and oid in per_op]
        for field in spans.SPARK_FIELDS:
            key = f"spark.{kind}.{field}"
            if key in out and ids:
                out[key] = sum(per_op[i][field] for i in ids) / len(ids)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description="lake benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.path[0] = ROOT  # import perfbench and novlake_spark as packages

    if not os.path.isfile(os.path.join(ROOT, "novlake_spark", "__init__.py")):
        print(f"no novlake_spark package under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = _workloads()
    if args.workload not in workloads:
        print(f"unknown workload {args.workload!r}; have {sorted(workloads)}", file=sys.stderr)
        return 2
    metrics = spec["per_layer" if args.trace else "end_to_end"]

    # Spark and py4j may print to fd 1; keep it for the result lines only
    result_fd = os.dup(1)
    os.dup2(2, 1)

    tmp = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    trace_dir = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(tmp)
    _isolate(tmp)
    from perfbench import harness

    b = harness.Bench(tmp, args.seed, args.seconds, bool(args.trace))
    wl = workloads[args.workload](b)
    phases = {}
    t_start = time.perf_counter()
    try:
        wl.prepare()
        phases["prepare"] = time.perf_counter() - t_start
        b.setup(wl)
        phases["setup"] = time.perf_counter() - t_start - phases["prepare"]
        t0 = time.perf_counter()
        wl.prime()
        phases["prime"] = time.perf_counter() - t0
        t0, cpu0 = time.perf_counter(), _cpu_times()
        wl.run()
        loop_wall = time.perf_counter() - t0
        steal = _steal_share(cpu0, _cpu_times())
        # before the end-of-run checks, whose own frames are not the program's
        jvm_mb, py_mb = b.peak_mem_mb()
        wl.finish()
        phases["finish"] = time.perf_counter() - t0 - loop_wall
        import pyspark

        run = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": bool(args.trace), "git_sha": _git_sha(), "source_digest": _source_digest(),
            "nproc": os.cpu_count(), "task_slots": harness.SLOTS,
            "shuffle_partitions": harness.SHUFFLE_PARTITIONS,
            "driver_memory": harness.DRIVER_MEMORY,
            "driver_java_options": harness.DRIVER_JAVA_OPTIONS, "spark": pyspark.__version__,
            "python": platform.python_version(), "clock_s": b.clock, "jvm_mb": jvm_mb, "py_mb": py_mb,
            "loop_wall_s": loop_wall, "loop_steal": steal, "phases_s": phases, "build_s": b.build_s,
            "passes": {k: len(v) for k, v in b.samples.items()},
        }
        values = {"setup_s": b.setup_s, "peak_mem_mb": jvm_mb + py_mb, **wl.e2e()}
        run["e2e"] = values
        if args.trace:
            values = _layer_metrics(b, wl, [m["name"] for m in metrics])
            os.makedirs(trace_dir, exist_ok=True)
            b.tracer.dump(os.path.join(trace_dir, f"{args.workload}-{args.seed}-spans.jsonl"))
    finally:
        if b.spark is not None:
            b.shutdown()
        shutil.rmtree(tmp, ignore_errors=True)

    missing = [m["name"] for m in metrics if m["name"] not in values]
    if missing:
        print(f"metrics not produced: {missing}", file=sys.stderr)
        return 3
    result = {
        "correct": b.final_ok and b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in metrics},
    }
    with os.fdopen(result_fd, "w") as out:
        out.write(json.dumps({"run": run, "samples": b.samples}) + "\n")
        out.write(json.dumps(result) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
