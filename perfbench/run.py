"""Benchmark runner: one workload, one process, one JSON result line.

    python3 perfbench/run.py --driver-mem 2g --workload olap_mix --seed 1 --seconds 25 --trace 0

Runs from the root of a source checkout. The workload's inputs are generated
from ``--seed`` into a fresh run directory under ``.perfbench_runs/``; the
engine (``minarrow_spark``, ``bench.py``) is imported from the checkout and
driven from one closed-loop client on Spark ``local[nproc / 2]``. The
runtime is pinned here, not inherited from the caller: ``SPARK_GRAFT_CPUS``
= half the CPUs this process may run on (see ``spark_threads``),
``SPARK_GRAFT_DRIVER_MEM`` = ``--driver-mem``
(the engine's 48g default does not fit a 15 GB host; the heap size is
fixed), and ``MINARROW_FORENSICS=0`` so no diagnostic collect runs
inside a timed build.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace 1``
prints its per-layer metrics, from a run that alternates untraced and traced
passes and reports the difference as ``trace.overhead_frac``; its spans are
written to ``.perfbench_out/``. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; ``failed / attempted`` is
the failed-op fraction (exceptions and output mismatches). Any error outside
a measured op exits non-zero without printing a result.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("olap_mix", "ingest_rollup", "llm_dedup_x10")
# Scale factor of the generated star schema (olap_mix's input and the base of
# llm_dedup_x10's replica; ingest_rollup generates its own event chunks).
SF = 0.01


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--driver-mem", default="2g")
    return p.parse_args(argv)


def spark_threads() -> int:
    """Spark's ``local[N]``: half the CPUs this process may run on, at least
    one. The other half keep the Python client and the JVM's driver, JIT and
    GC threads off the task threads' CPUs. On a 4-vCPU shared guest,
    local[4] saw 2-9 % hypervisor steal while the JIT warmed up and ran the
    cold checked olap_mix pass in 24 s and steady passes in 3.5-4.2 s;
    local[2] saw under 1 % steal, 19 s and 3.3-3.6 s (sf0.01 queries are
    bound by per-job overhead, not by task parallelism)."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def start_spark(run_dir: str, driver_mem: str):
    """Pin the runtime and start the session; every path Spark or the
    engine writes to lies inside ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(spark_threads()),
        SPARK_GRAFT_DRIVER_MEM=driver_mem,
        MINARROW_FORENSICS="0",
        MINARROW_SCRATCH=os.path.join(run_dir, "scratch"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
    )
    from minarrow_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.memory": driver_mem,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # A fixed heap size: G1 otherwise grows the heap by GC-time
            # heuristics, and peak RSS wandered 2.2-3.2 GB across identical
            # runs.
            "spark.driver.extraJavaOptions": f"-Xms{driver_mem} -Djava.io.tmpdir={tmp}",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def end_to_end(ctx) -> dict[str, float]:
    lat = ctx.latencies
    if not lat:
        raise RuntimeError("no op completed; nothing to report")
    return {
        "setup_s": ctx.setup_s,
        "p50_s": statistics.median(lat),
        "p70_s": statistics.quantiles(lat, n=10)[6] if len(lat) > 1 else lat[0],
        "ops_per_min": 60.0 * len(lat) / ctx.measured_s,
        "peak_rss_mb": ctx.peak_rss_mb,
    }


# How each per-layer sample series folds into one number.
_MEDIAN = (
    "queries.build_s", "plans.plan_s", "session.exec_s", "session.critical_stage_s",
    "session.task_skew", "sources.load_table_s", "streaming.ingest_s", "streaming.serve_s",
    "streaming.trigger_s", "streaming.add_batch_s", "streaming.latest_offset_s",
    "streaming.planning_s", "streaming.commit_s", "host.anchor_s",
)
_MEAN = (
    "queries.build_jobs", "plans.exchanges", "session.jobs", "session.stages", "session.tasks",
    "session.single_task_stages", "session.shuffle_write_bytes", "session.spill_bytes",
    "session.gc_s", "sources.python_bytes_sent", "sources.python_bytes_received",
    "streaming.rows_per_batch", "streaming.listing_jobs",
)
_MAX = ("session.heap_peak_mb", "streaming.partials")


def per_layer(ctx, tracer) -> dict[str, float]:
    s = tracer.samples
    out = {name: tracer.median(name) for name in _MEDIAN}
    out.update({name: statistics.fmean(s[name]) if s.get(name) else 0.0 for name in _MEAN})
    out.update({name: max(s[name]) if s.get(name) else 0.0 for name in _MAX})
    calls = tracer.total("sources.load_calls")
    out["sources.load_calls"] = calls
    out["sources.load_cache_hit_ratio"] = tracer.total("sources.load_cache_hits") / calls if calls else 0.0
    traced, plain = ctx.traced_latencies, ctx.latencies
    out["trace.overhead_frac"] = (
        statistics.median(traced) / statistics.median(plain) - 1.0 if traced and plain else 0.0
    )
    out["trace.counter_read_s"] = tracer.overhead_s
    out["host.steal_frac"] = ctx.steal_frac
    return out


def run(args: argparse.Namespace, spark, run_dir: str) -> dict:
    """One workload on a started session; returns the result object."""
    import workloads
    from spans import Tracer

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ctx = workloads.Ctx(
        spark=spark,
        seed=args.seed,
        seconds=args.seconds,
        run_dir=run_dir,
        sf=SF,
        process_start=PROCESS_START,
        jvm_pid=spark._jvm.java.lang.ProcessHandle.current().pid(),
    )
    if args.trace:
        ctx.tracer = Tracer(spark)
    workloads.WORKLOADS[args.workload](ctx)
    if args.trace:
        values = per_layer(ctx, ctx.tracer)
        wanted = spec["per_layer"]
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        ctx.tracer.write(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.json"))
    else:
        values = end_to_end(ctx)
        wanted = spec["end_to_end"]
    print(
        f"perfbench: {args.workload} seed={args.seed} local[{spark_threads()}] "
        f"driver-mem={args.driver_mem} ops={ctx.attempted} failed={ctx.failed} "
        f"untraced-samples={len(ctx.latencies)} traced-samples={len(ctx.traced_latencies)} "
        f"measured={ctx.measured_s:.1f}s steal={ctx.steal_frac:.3f}",
        file=sys.stderr,
    )
    return {
        "correct": ctx.failed == 0 and ctx.checks > 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        spark = start_spark(run_dir, args.driver_mem)
        try:
            result = run(args, spark, run_dir)
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
