"""Capture .explain('formatted') for declared queries into plans/<tag>/.

Usage: python scripts/capture_plans.py <tag> [suffix] [query ...]
Writes plans/<tag>/<query>_<suffix>.txt (suffix default 'before').
Queries default to every registered query. Uses the bench session
(get_spark) at sf0.1 so plan shapes match what bench.py times.

Note: queries with internal actions (checkpoints) execute those jobs at
build time; the captured plan is the FINAL returned DataFrame's plan,
which is what the noop sink executes on top of the checkpointed inputs.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r10"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from minarrow_spark.registry import all_queries
    from minarrow_spark.session import get_spark

    spark = get_spark("minarrow_spark_plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    for name, q in qs.items():
        if only and name not in only:
            continue
        try:
            df = q.fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as ex:  # noqa: BLE001
            plan = f"ERROR building plan: {type(ex).__name__}: {ex}"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
