"""Self-test of the benchmark at sf0.001 with the shortest run length.

    python3 -m pytest perfbench/test_perfbench.py -q

Runs every workload in one shared Spark session (minutes, not the
benchmark's hour) and checks the runner's contract: every end-to-end metric
prints with its unit, the traced run emits every per-layer key and a
non-zero value for each layer the workload uses, and an op that raises is
counted as failed, never dropped.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)

# Layers each workload drives, as per-layer keys that must read non-zero.
USES = {
    "olap_mix": (
        "queries.build_s", "plans.plan_s", "plans.exchanges", "session.exec_s",
        "session.jobs", "session.stages", "session.tasks", "session.critical_stage_s",
        "session.heap_peak_mb", "sources.load_table_s", "sources.load_calls",
        "sources.load_cache_hit_ratio", "sources.python_bytes_sent",
        "sources.python_bytes_received", "host.anchor_s", "trace.counter_read_s",
    ),
    "llm_dedup_x10": (
        "queries.build_s", "queries.build_jobs", "plans.plan_s", "session.exec_s",
        "session.jobs", "session.shuffle_write_bytes", "sources.load_calls", "host.anchor_s",
    ),
    "ingest_rollup": (
        "session.jobs", "session.tasks", "streaming.ingest_s", "streaming.serve_s",
        "streaming.trigger_s", "streaming.add_batch_s", "streaming.latest_offset_s",
        "streaming.rows_per_batch", "streaming.partials",
    ),
}


@pytest.fixture(scope="module")
def bench_env():
    base = os.path.join(run.ROOT, ".perfbench_runs", f"selftest-{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    spark = run.start_spark(base, "2g")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(run, "SF", 0.001)
        yield spark, base
    run.stop_spark(spark)
    shutil.rmtree(base, ignore_errors=True)


def _run(bench_env, workload: str, trace: int) -> dict:
    spark, base = bench_env
    run_dir = os.path.join(base, f"{workload}-{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    args = run.parse_args(
        ["--workload", workload, "--seed", "3", "--seconds", "0.5", "--trace", str(trace)]
    )
    result = run.run(args, spark, run_dir)
    json.dumps(result)  # the result line must serialize
    return result


def test_end_to_end_metrics_print_with_units(bench_env):
    for workload in ("olap_mix", "ingest_rollup"):
        result = _run(bench_env, workload, 0)
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
        for m in SPEC["end_to_end"]:
            got = result["metrics"][m["name"]]
            assert got["unit"] == m["unit"]
            assert got["value"] > 0, (workload, m["name"])


@pytest.mark.parametrize("workload", sorted(USES))
def test_traced_run_emits_per_layer_keys(bench_env, workload):
    result = _run(bench_env, workload, 1)
    assert result["correct"], result
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in SPEC["per_layer"]}
    for m in SPEC["per_layer"]:
        assert metrics[m["name"]]["unit"] == m["unit"]
    zero = [k for k in USES[workload] if not metrics[k]["value"] > 0]
    assert not zero, f"{workload}: layer keys read zero: {zero}"


def test_raising_op_counts_as_failed(bench_env, monkeypatch):
    real = workloads.all_queries()
    name = "q45_tumbling_window"

    def boom(spark, sf_dir):
        raise RuntimeError("injected failure")

    broken = dict(real)
    broken[name] = dataclasses.replace(real[name], fn=boom)
    monkeypatch.setattr(workloads, "all_queries", lambda: broken)
    result = _run(bench_env, "olap_mix", 0)
    # Once in the checked pass, once in each untimed warm pass, once in the
    # single timed pass.
    passes = 2 + workloads.WARM_PASSES
    assert result["failed"] == passes
    assert result["correct"] is False
    n_bench = sum(1 for q in real.values() if q.bench)
    assert result["attempted"] == passes * n_bench
