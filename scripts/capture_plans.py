"""Capture query plans, and compare two captures (the plan-identity gate).

Capture: python scripts/capture_plans.py <tag|dir> [suffix] [query ...]
    Writes <dir>/<query>_<suffix>.txt (suffix default 'before'; <dir> is
    plans/<tag>, or the path itself when it is absolute). Queries default
    to every registered query plus the non-registry targets in EXTRA. Uses
    the bench session (get_spark) at sf0.1 so plan shapes match what
    bench.py times.

Compare: python scripts/capture_plans.py --compare <dir_a> <dir_b>
    Pairs the dumps by query name (suffix stripped), normalises the ids
    that differ between identical plans, and exits 1 when any pair
    differs or a query is missing on one side.

Each dump is the FINAL returned DataFrame's formatted plan, followed by the
formatted plans of every SQL execution the build ran (checkpoint and write
jobs — q35's signature, q34's stream tier, q46's partial writes), sorted,
since concurrent build jobs finish in any order.
"""

from __future__ import annotations

import atexit
import difflib
import os
import re
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

_BUILD_SEP = "\n== build execution ==\n"

# (pattern, replacement): ids that two builds of the same plan never share.
_NORMALISE = [
    (re.compile(r"#\d+L?"), "#"),  # expression ids
    (re.compile(r"\blambda ([A-Za-z]+)_\d+"), r"lambda \1_"),  # lambda vars
    (re.compile(r"\b(rand|randn)\(-?\d+\)"), r"\1()"),  # unseeded rand
    # plan ids: exchanges, AQE query stages and codegen stages (the last two
    # number build jobs' stages in the order concurrent stages finish)
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"(QueryStage\n(?:Output[^\n]*\n)?Arguments: )\d+"), r"\1"),
    (re.compile(r"codegen id : \d+"), "codegen id : "),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"`_pyspark_[0-9a-f]{32}`"), "`_pyspark_`"),  # spark.sql(df=) views
    (re.compile(r", Statistics\([^)]*\)"), ""),  # AQE runtime sizes
    (re.compile(re.escape(tempfile.gettempdir()) + r"/[^/\s,\]]+"), "<tmp>"),
]


def normalise(plan: str) -> str:
    for pat, rep in _NORMALISE:
        plan = pat.sub(rep, plan)
    return plan


def _rollup_view_3_partials(spark, sf_dir):
    """ingest_rollup's serve path: rollup_view over three batch partials."""
    from pyspark.sql import functions as F

    from minarrow_spark.sources.catalog import load_table
    from minarrow_spark.streaming.rollup import rollup_view, rollup_writer

    base = tempfile.mkdtemp(prefix="capture_plans_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    d = os.path.join(base, "rollup")
    e = load_table(spark, sf_dir, "events")
    write_batch = rollup_writer(d)
    for b in range(3):
        write_batch(e.filter(F.col("event_id") % 3 == b), b)
    return rollup_view(spark, d)


EXTRA = {"rollup_view_3_partials": _rollup_view_3_partials}


def _executions(spark) -> list:
    store = spark._jsparkSession.sharedState().statusStore()
    return list(spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(store.executionsList()))


def capture(argv: list[str]) -> int:
    tag = argv[0] if argv else "r10"
    suffix = argv[1] if len(argv) > 1 else "before"
    only = set(argv[2:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from minarrow_spark.registry import all_queries
    from minarrow_spark.session import get_spark

    spark = get_spark("minarrow_spark_plans")
    spark.sparkContext.setLogLevel("ERROR")
    builders = {name: q.fn for name, q in all_queries().items()}
    builders.update(EXTRA)
    out_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    for name, fn in builders.items():
        if only and name not in only:
            continue
        seen = {e.executionId() for e in _executions(spark)}
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as ex:  # noqa: BLE001
            plan = f"ERROR building plan: {type(ex).__name__}: {ex}"
        built = sorted(
            normalise(e.physicalPlanDescription())
            for e in _executions(spark)
            if e.executionId() not in seen
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan + "".join(_BUILD_SEP + p for p in built))
        print(f"wrote {path} ({len(plan)} bytes, {len(built)} build executions)")
    return 0


def _by_query(d: str) -> dict[str, str]:
    return {
        f.rsplit("_", 1)[0]: os.path.join(d, f)
        for f in sorted(os.listdir(d))
        if f.endswith(".txt")
    }


def compare(dir_a: str, dir_b: str) -> int:
    a, b = _by_query(dir_a), _by_query(dir_b)
    bad = 0
    for name in sorted(a.keys() | b.keys()):
        if name not in a or name not in b:
            print(f"MISSING {name}: only in {dir_a if name in a else dir_b}")
            bad += 1
            continue
        with open(a[name]) as fa, open(b[name]) as fb:
            ta, tb = normalise(fa.read()), normalise(fb.read())
        if ta == tb:
            print(f"same    {name}")
            continue
        bad += 1
        print(f"DIFFERS {name}")
        diff = difflib.unified_diff(
            ta.splitlines(), tb.splitlines(), a[name], b[name], lineterm="", n=1
        )
        for line in list(diff)[:40]:
            print("    " + line)
    print(f"{len(a.keys() | b.keys()) - bad} identical, {bad} different")
    return 1 if bad else 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["--compare"] and len(sys.argv) == 4:
        raise SystemExit(compare(sys.argv[2], sys.argv[3]))
    raise SystemExit(capture(sys.argv[1:]))
