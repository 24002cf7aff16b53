"""r5 verdict task 3: resolve the BENCH_r04→r05 scale10 +18% ambiguity.

Runs the 13-query sf1.0 (10× replica) set best-of-5 TWICE in ONE session
with bench.gc_sweep between every run (the documented steady-state
protocol), then prints both passes per query — if the two passes agree
with each other but not with BENCH_r05's numbers, the r5 sweep delta was
session noise (deferred-GC profile shifted by the set growing 10→13
queries), not a plan regression.

Separately, `--isolated q01_pricing_summary ...` runs ONE query in this
fresh process (for per-query isolated numbers from separate JVMs).

`--headline` (r6 verdict task 1) runs the 9-query sf0.1 HEADLINE set under
the same two-pass best-of-N protocol instead of the 10× set — the
adjudication harness for cross-round drifts in the driver bench's sf0.1
line. A calibration anchor (bench.calibration) is measured per pass.

Usage: python scripts/scale10_probe.py [--isolated NAME] [--reps N] [--headline]
Output: one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from minarrow_spark.registry import all_queries  # noqa: E402
from minarrow_spark.session import get_spark  # noqa: E402


def best_of(spark, fn, sf_dir: str, warm: int, reps: int) -> float:
    for _ in range(warm):
        bench.materialize(fn(spark, sf_dir))
        bench.gc_sweep(spark)
    best = None
    for _ in range(reps):
        t0 = time.perf_counter()
        bench.materialize(fn(spark, sf_dir))
        dt = round(time.perf_counter() - t0, 3)
        best = dt if best is None or dt < best else best
        bench.gc_sweep(spark)
    return best


def main() -> None:
    argv = sys.argv[1:]
    isolated = None
    headline = False
    reps = 5
    while argv and argv[0].startswith("--"):
        if argv[0] == "--isolated":
            argv.pop(0)
            isolated = argv.pop(0)
        elif argv[0] == "--reps":
            argv.pop(0)
            reps = int(argv.pop(0))
        elif argv[0] == "--headline":
            argv.pop(0)
            headline = True
        else:
            raise SystemExit(f"unknown flag {argv[0]}")

    spark = get_spark("scale10_probe")
    qs = all_queries()
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    if headline:
        names = sorted(n for n, q in qs.items() if q.bench)
        run_dir = src
    else:
        bench._build_x10(spark, src)
        names = list(bench._X10_QUERIES)
        run_dir = bench._X10_DIR

    if isolated:
        t = best_of(spark, qs[isolated].fn, run_dir, warm=2, reps=reps)
        print(json.dumps({"isolated": isolated, "best": t, "reps": reps}))
        return

    out: dict = {"reps": reps, "set": "headline" if headline else "x10", "passes": []}
    for p in range(2):
        times = {}
        for name in names:
            times[name] = best_of(spark, qs[name].fn, run_dir, warm=2, reps=reps)
        out["passes"].append(
            {
                "total": round(sum(times.values()), 3),
                "queries": times,
                "calibration_s": bench.calibration(spark),
            }
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
