"""Benchmark harness: runs the headline query set at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is fully materialized via the noop sink (count() would let
Catalyst prune work). Each query runs once untimed first (absorbs JVM +
whole-stage-codegen compilation — a one-time cost on a long-lived cluster),
then once timed; the JSON reports the timed steady-state runs.

A second scale point rides in the same JSON line under "scale10": the
largest driver-provided testdata replicated 10× with per-replica key
shifts (so join fan-outs and dedup/ANN candidate structures stay realistic
instead of exploding quadratically on duplicated keys). sf0.1 timings on
this host are scheduling-bound (<1s/query); the 10× point is where plan
quality actually shows, making round-over-round perf claims meaningful.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from minarrow_spark.registry import all_queries
from minarrow_spark.session import codegen_compiles, get_spark

# 10x-replica tier ----------------------------------------------------------

_X10_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".scratch", "bench_x10")
_X10_SHIFT = 100_000_000  # divisible by every modulus the queries use (8,10,20,25)
_X10_COPIES = 10
# spanning subset: scan-agg, multi-join, LSH dedup, event window, ANN scan,
# rank window, cumulative packing, stateful sessionization, plus ALL the
# collapse-repaired pair/graph families (exact dedup, simhash+graph, n-gram
# jaccard, sign-LSH buckets, cell dedup) so the recorded bench tracks every
# collapse family round-over-round (r4 verdict #5)
_X10_QUERIES = (
    "q01_pricing_summary",
    "q04_segment_revenue",
    "q35_dedup_minhash",
    "q45_tumbling_window",
    "q38_ann_topk",
    "q10_window_topk",
    "q42_sequence_packing",
    "q47_sessionization",
    "q39b_lsh_buckets",
    "q40_embedding_dedup",
    "q34_dedup_exact",
    "q36_simhash",
    "q37_ngram_jaccard",
)


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def calibration(spark, reps: int = 3, warm: int = 2) -> float:
    """Fixed-work session-noise anchor (r6 verdict task 1): best-of-``reps``
    of the 1e9-i64 sum (the microbench kernel — same idea as the
    reference's fixed-loop protocol, session-local). Every BENCH_rN line
    carries it as ``calibration_s``, so a cross-round drift in the query
    numbers can be read against a drift in constant work from the same
    session — two consecutive rounds (r5 scale10 +18%, r6 sf0.1 +17%) each
    cost a round of adjudication for lack of exactly this."""
    from pyspark.sql import functions as F

    n = 1_000_000_000
    parts = 2 * spark.sparkContext.defaultParallelism
    run = lambda: spark.range(0, n, 1, parts).agg(F.sum("id")).collect()
    for _ in range(warm):  # two warm runs: C2 steady state (microbench.py)
        run()
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        run()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def gc_sweep(spark) -> None:
    """Deterministic cleanup between measured runs — local-mode measurement
    hygiene, discovered hunting a 17s q35 x10 'regression': GC-scoped
    checkpoint blocks from PREVIOUS runs are freed only after a Python GC
    (releases the py4j ref) plus a JVM GC (ContextCleaner weak refs), and a
    48 GiB single-JVM heap postpones collection until tens of GB are dead —
    then one stop-the-world stall lands INSIDE a timed run (measured: both
    concurrent checkpoint jobs frozen ~12 s; x10 runs degrading 3→21 s).
    Sweeping between runs keeps dead-block cleanup out of the timed window,
    which is the steady-state semantics best-of-N is documented to measure
    (a real cluster's per-executor heaps are small and collected
    incrementally — the giant deferred GC is a local[32]/48G artifact)."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _build_x10(
    spark,
    sf_dir: str,
    out_dir: str = _X10_DIR,
    copies: int = _X10_COPIES,
    tables: tuple[str, ...] | None = None,
) -> None:
    """Replicate each table `copies`× with id/key columns shifted per replica —
    keys ending in 'key' or '_id' move by replica*_X10_SHIFT, so cross-table
    join keys stay consistent (both sides shift identically) and the
    id-modulus augmentations (doc_id % 10 etc.) keep their classes."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from minarrow_spark.sources.catalog import TABLES, table_path

    # The marker must pin EVERYTHING that shaped the build — src, replica
    # count, and table subset — or a directory built with different
    # parameters would be silently reused at the wrong scale.
    build_sig = {
        "src": sf_dir,
        "copies": copies,
        "tables": sorted(tables) if tables else None,
    }
    marker = os.path.join(out_dir, "_MARKER.json")
    if os.path.exists(marker):
        with open(marker) as fh:
            old = json.load(fh)
            if {k: old.get(k) for k in build_sig} == build_sig:
                return
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    for name in tables or TABLES:
        df = spark.read.parquet(table_path(sf_dir, name))
        id_cols = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (T.LongType, T.IntegerType))
            and (f.name.endswith("key") or f.name.endswith("_id"))
        ]
        reps = []
        for i in range(copies):
            rep = df
            for c in id_cols:
                rep = rep.withColumn(c, F.col(c) + F.lit(i * _X10_SHIFT))
            reps.append(rep)
        out = reps[0]
        for rep in reps[1:]:
            out = out.unionByName(rep)
        out.write.mode("overwrite").parquet(table_path(out_dir, name))
    with open(marker, "w") as fh:
        json.dump(build_sig, fh)


def _hot_anchor(cal: float, cals: dict, global_cal: float) -> bool:
    """True when a per-query calibration anchor reads >1.5× the session's
    BEST anchor so far (r11, VERDICT r10 task 2): the r10 driver artifact
    showed two >10% headline "regressions" on untouched code, adjudicated
    only by calibration arithmetic after the fact. A hot anchor now triggers
    ONE extra recalibrated rep block inside the run itself, so the artifact
    self-corrects. Relative to the session's own best anchor — not an
    absolute band — so the rule is core-count-agnostic (the fixed kernel
    reads ~2× slower at 8 cores; a constant threshold would retry always)."""
    band = min([global_cal] + list(cals.values()))
    return cal > 1.5 * band


def _run_x10(spark, qs, sf: float, global_cal: float) -> dict:
    """Self-adjudicating scale10 block (r9 verdict task 2): BENCH_r08's
    39.3 s vs r07's 28.3 read as a 39% regression and was one new tier
    plus documented in-sweep VM noise — evidence a grader could only find
    in SCALE.md. Now the JSON carries its own adjudication: per-query
    gc_sweep + warm runs + best-of-3, plus a per-query ``calibration``
    map (best-of-2 of the fixed 1e9-i64 kernel, measured IMMEDIATELY
    before that query's timed reps). A reading taken while the session
    was hot shows a proportionally inflated calibration next to it; a
    real regression shows a normal one."""
    times: dict[str, float] = {}
    cals: dict[str, float] = {}
    retries: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in _X10_QUERIES:
        try:
            # Two warm runs: at this volume the decimal/long agg loops only
            # reach C2-compiled steady state on the 2nd-3rd execution
            # (measured 30 s run-1 vs ~4 s steady for the old q01) — a
            # single warm run left JIT churn inside the timed window.
            # gc_sweep between runs keeps prior runs' dead checkpoint
            # blocks out of the timed window (see its docstring).
            for _ in range(2):
                materialize(qs[name].fn(spark, _X10_DIR))
                gc_sweep(spark)
            # Per-query noise anchor, same fixed work as the headline
            # calibration_s (kernel already C2-hot from main's call).
            cal = calibration(spark, reps=2, warm=0)
            cals[name] = cal

            def _block() -> float:
                best = None
                for _ in range(3):
                    t0 = time.perf_counter()
                    materialize(qs[name].fn(spark, _X10_DIR))
                    dt = round(time.perf_counter() - t0, 3)
                    best = dt if best is None or dt < best else best
                    gc_sweep(spark)
                return best

            best = _block()
            # Hot-anchor self-correction (r11): one extra recalibrated
            # block when this query's anchor read >1.5× the session's
            # best — see _hot_anchor.
            if _hot_anchor(cal, cals, global_cal):
                retries[name] = calibration(spark, reps=2, warm=0)
                best = min(best, _block())
            times[name] = best
        except Exception as ex:  # noqa: BLE001 — secondary tier, never fatal
            errors[name] = f"{type(ex).__name__}: {ex}"[:300]
    out = {
        "sf": round(sf * _X10_COPIES, 4),
        "value": round(sum(times.values()), 3) if not errors else None,
        "queries": times,
        "calibration": cals,
        "protocol": "per-query gc_sweep + 2 warm + best-of-3; calibration = best-of-2 fixed 1e9-i64 sum taken right before each query's timed reps; anchors >1.5x the session best take one extra recalibrated block (best-of-all, retry anchor in calibration_retry)",
    }
    if retries:
        out["calibration_retry"] = retries
    if errors:
        out["errors"] = errors
        out["incomplete"] = True
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark("minarrow_spark_bench")
    qs = all_queries()
    names = sorted(n for n, q in qs.items() if q.bench)

    # Steady-state measurement: each query runs once untimed (absorbs
    # whole-stage-codegen compilation + JIT, which on a long-lived cluster
    # is a one-time cost), then five timed runs; the reported number is the
    # per-query BEST of the five. Rationale: single-sample timings on this
    # host show multi-second transient spikes uncorrelated with the query
    # (same executed plan, same join strategies — VM CPU/GC noise), so the
    # minimum is the faithful steady-state capability measure, the same
    # convention micro-benchmark harnesses (e.g. hyperfine's `min`) report.
    # A single broken query must not null the whole benchmark (a round-2
    # testdata type change did exactly that): failures are recorded under
    # "errors" — visibly, not silently — and the remaining queries still
    # report their steady-state numbers.
    errors: dict[str, str] = {}
    for name in names:
        try:
            materialize(qs[name].fn(spark, sf_dir))
        except Exception as ex:  # noqa: BLE001 — report, keep benching
            errors[name] = f"{type(ex).__name__}: {ex}"[:300]

    # Global anchor FIRST: its warm runs bring the fixed kernel to C2
    # steady state, so the per-query calibration reps below are cheap
    # (warm=0) and meaningful.
    calibration_s = calibration(spark)

    # Per-query CONSECUTIVE reps (not round-robin over the set): the
    # steady state being measured is per-query. Round-robin once cost q35
    # 2.1s vs ~1.5-1.7s isolated with identical code: at Spark's default
    # 100-entry codegen cache the nine plans' ~175 generated classes
    # evicted each other, so every rep recompiled (plus cold JIT). The
    # session now sizes the cache to the registry (session.py), and
    # ``codegen_compiles`` below records each query's compile count over
    # its timed reps — nonzero means a cache regression or a per-build
    # literal in the plan. A gc_sweep between queries keeps the previous
    # query's dead checkpoint blocks out of the next one's timed window.
    #
    # Self-adjudication (r10 verdict task 4, extending the r9 scale10
    # protocol to the headline): BENCH_r09's headline read q01/q04/q10
    # +20% on untouched plan-pinned code while its single global
    # calibration couldn't arbitrate — only SCALE.md cross-referencing
    # cleared it as the documented cross-session VM class. Now a per-query
    # ``calibration`` map (best-of-2 fixed 1e9-i64 sum, taken IMMEDIATELY
    # before that query's timed reps) rides the JSON: an inflated anchor
    # next to a slow reading means session heat, a normal one means a
    # real change.
    times: dict[str, float] = {}
    cals: dict[str, float] = {}
    retries: dict[str, float] = {}
    compiles: dict[str, int] = {}

    def _rep_block(name: str) -> None:
        for _ in range(5):
            t0 = time.perf_counter()
            try:
                materialize(qs[name].fn(spark, sf_dir))
            except Exception as ex:  # noqa: BLE001
                errors[name] = f"{type(ex).__name__}: {ex}"[:300]
                times.pop(name, None)
                break
            dt = round(time.perf_counter() - t0, 3)
            if name not in times or dt < times[name]:
                times[name] = dt

    for name in names:
        if name in errors:
            continue
        gc_sweep(spark)
        cal = calibration(spark, reps=2, warm=0)
        cals[name] = cal
        c0 = codegen_compiles(spark)
        _rep_block(name)
        compiles[name] = codegen_compiles(spark) - c0
        # Hot-anchor self-correction (r11, see _hot_anchor): one extra
        # recalibrated best-of-5 block when this query's anchor read
        # >1.5× the session's best anchor — the r10 artifact's q35/q45
        # "regressions" were exactly this class.
        if name not in errors and _hot_anchor(cal, cals, calibration_s):
            gc_sweep(spark)
            retries[name] = calibration(spark, reps=2, warm=0)
            c0 = codegen_compiles(spark)
            _rep_block(name)
            compiles[name] += codegen_compiles(spark) - c0

    out = {
        "metric": "headline_queries_total",
        "calibration_s": calibration_s,
        "calibration": cals,
        **({"calibration_retry": retries} if retries else {}),
        "protocol": "per-query gc_sweep + 1 warm + best-of-5; calibration = best-of-2 fixed 1e9-i64 sum taken right before each query's timed reps; anchors >1.5x the session best take one extra recalibrated block (best-of-all, retry anchor in calibration_retry)",
        # a regression that BREAKS a query must not shrink the total into a
        # fake improvement: with any error the headline value is null and
        # the line is flagged incomplete (per-query times stay visible).
        "value": round(sum(times.values()), 3) if not errors else None,
        "unit": "sec",
        "queries": times,
        # generated classes compiled during each query's timed reps; 0 = all
        # came from the codegen cache
        "codegen_compiles": compiles,
        "sf": sf,
    }
    if errors:
        out["errors"] = errors
        out["incomplete"] = True

    try:
        _build_x10(spark, sf_dir)
        out["scale10"] = _run_x10(spark, qs, sf, calibration_s)
    except Exception as ex:  # noqa: BLE001 — secondary tier, never fatal
        out["scale10"] = {"error": f"{type(ex).__name__}: {ex}"[:300]}

    print(json.dumps(out))


if __name__ == "__main__":
    main()
