"""Steadiness report: run workloads N times and show each metric's spread.

    python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--traced]
                                [--workload NAME ...]

Runs ``perfbench/run.py`` once per seed, one run at a time, from the
checkout root. For every end-to-end metric it prints the median, the
quartiles (``statistics.quantiles(n=4)``), min/max and the inter-quartile
range as a share of the median next to the metric's bound. Per-op
samples are pooled across runs to report each latency's tail at the
highest percentile with at least ten samples beyond it. With
``--traced`` each seed also runs traced, and the report adds the
traced-minus-untraced difference of each end-to-end metric (the tracing
overhead).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import percentile, spread, tail_percentile  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """(result object, run/samples record) of one benchmark run."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}: {proc.stderr[-2000:]}")
    return json.loads(lines[-1]), json.loads(lines[-2])


def main() -> int:
    ap = argparse.ArgumentParser(description="benchmark steadiness report")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = spec["run_seconds"]
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    for w in workloads:
        runs = []
        for i in range(args.runs):
            seed = args.first_seed + i
            res, rec = run_once(w, seed, seconds, 0)
            traced = run_once(w, seed, seconds, 1) if args.traced else None
            runs.append({"seed": seed, "result": res, "record": rec, "traced": traced})
            print(f"{w} seed {seed}: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']} steal={rec['run']['loop_steal']:.1%} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
            if traced:
                print(f"{w} seed {seed} traced: correct={traced[0]['correct']} "
                      f"failed={traced[0]['failed']}", flush=True)

        print(f"\n== {w}: {len(runs)} runs of {seconds} s")
        print(f"{'metric':<14}{'median':>10}{'q1':>10}{'q3':>10}{'min':>10}{'max':>10}"
              f"{'iqr/med':>9}{'bound':>7}")
        for name, m in bounds.items():
            s = spread([r["result"]["metrics"][name]["value"] for r in runs])
            print(f"{name:<14}{s['median']:>10.4g}{s['q1']:>10.4g}{s['q3']:>10.4g}"
                  f"{s['min']:>10.4g}{s['max']:>10.4g}{s['iqr_share']:>9.3f}{m['bound']:>7}")
        pooled: dict[str, list[float]] = {}
        for r in runs:
            for k, v in r["record"]["samples"].items():
                pooled.setdefault(k, []).extend(v)
        for k, v in pooled.items():
            p = tail_percentile(len(v))
            tail = f"p{p:g} {percentile(v, p):.4g} s" if p else "too few samples"
            print(f"  {k}: {len(v)} samples, median {statistics.median(v):.4g} s, tail {tail}")
        if args.traced:
            for name in bounds:
                plain = statistics.median(r["result"]["metrics"][name]["value"] for r in runs)
                traced = statistics.median(r["traced"][1]["run"]["e2e"][name] for r in runs)
                print(f"  tracing overhead {name}: {traced - plain:+.4g} ({(traced - plain) / plain:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
