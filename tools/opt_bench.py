"""Round-11 optimization micro-bench: time a SUBSET of registered keys
with the exact bench.py methodology (same session shape, noop sink,
warm-up pass, then N measured passes reporting min) so before/after
comparisons during an optimization round don't pay the full-suite cost.

The sandbox CPU is heavily time-variant (OPTIMIZATION_r11.md
"Measurement environment": 3x identical passes measured 571/361/191 s),
so ONLY the min over >=3 warm passes is comparable run-to-run, and plan
shapes stay the primary evidence.

Usage:
    python tools/opt_bench.py q_llm_tfidf q_llm_dedup_near   # min-of-3
    PASSES=5 python tools/opt_bench.py q_pdf_extract
    EXPLAIN_DIR=plans/r11 SUFFIX=_after python tools/opt_bench.py q_x
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from novlake_spark.registry import queries  # noqa: E402
from novlake_spark.session import get_session  # noqa: E402


def main() -> None:
    keys = [a for a in sys.argv[1:] if not a.startswith("-")]
    if not keys:
        print("usage: opt_bench.py <key> [key ...]", file=sys.stderr)
        sys.exit(2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    passes = int(os.environ.get("PASSES", "3"))
    explain_dir = os.environ.get("EXPLAIN_DIR")
    suffix = os.environ.get("SUFFIX", "_after")

    spark = get_session("novlake-opt-bench", master=f"local[{cpus}]", shuffle_partitions=8)
    qs = queries()
    from novlake_spark.cache import release_tracked

    for key in keys:
        if key not in qs:
            print(f"unknown key: {key}", file=sys.stderr)
            sys.exit(2)

    if explain_dir:
        from novlake_spark.plans.inspect import explain_str

        for key in keys:
            plan = explain_str(qs[key](spark, sf_dir))
            path = os.path.join(explain_dir, f"{key}{suffix}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"wrote {path}", file=sys.stderr)
            release_tracked()

    results: dict[str, dict[str, float]] = {}
    # warm-up pass (JIT, codegen, file listing) exactly like bench.py
    for key in keys:
        spark.sparkContext.setJobDescription(f"warmup {key}")
        qs[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
        release_tracked()
    for key in keys:
        samples = []
        for i in range(passes):
            spark.sparkContext.setJobDescription(f"pass{i} {key}")
            t0 = time.perf_counter()
            qs[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
            release_tracked()
        results[key] = {"min": min(samples), "samples": samples}
        print(f"{key}: min={min(samples)} samples={samples}", flush=True)
    print(json.dumps({"sf_dir": sf_dir, "cpus": cpus, "results": results}))


if __name__ == "__main__":
    main()
