"""Plan contracts: the properties SCALE.md promises, asserted per query.

These tests pin the *shape* of execution, not results (the oracle suite does
results): filter/column pushdown reaches the parquet scan, small dims are
broadcast, shuffle counts don't silently regress, codegen covers the plan.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import pytest
from pyspark.sql import DataFrame

from minarrow_spark.plans.inspect import _executed_plan, count_exchanges
from minarrow_spark.registry import all_queries

QUERIES = all_queries()


def _formatted(df: DataFrame) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters lists per parquet scan (empty string → nothing pushed)."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", _formatted(df))


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema per parquet scan — verifies column pruning reached the scan."""
    return re.findall(r"ReadSchema: (struct<[^\n]*)", _formatted(df))


@dataclass(frozen=True)
class PlanSummary:
    shuffles: int
    broadcasts: int
    pushed_filters: list[str]
    read_schemas: list[str]
    wholestage_codegen_spans: int


def plan_summary(df: DataFrame, execute: bool = False) -> PlanSummary:
    """One-call audit of the properties SCALE.md tracks per query.

    With AQE the codegen layout only exists once the adaptive plan is final,
    and only *this df's own* action finalizes its plan (a writer executes a
    copy), so ``execute=True`` collects the result first — intended for
    test/audit tiers where results are small. The static properties
    (pushdown, schemas, exchange counts) never need execution."""
    if execute:
        df.collect()
    plan = _executed_plan(df)
    shuffles, broadcasts = count_exchanges(df)
    codegen = len(set(re.findall(r"\*\((\d+)\)", plan)))
    return PlanSummary(
        shuffles=shuffles,
        broadcasts=broadcasts,
        pushed_filters=pushed_filters(df),
        read_schemas=read_schemas(df),
        wholestage_codegen_spans=codegen,
    )


def _summary(spark, sf_dir, name):
    return plan_summary(QUERIES[name].fn(spark, sf_dir))


def test_q01_pushdown_and_pruning(spark, sf_dir):
    df = QUERIES["q01_pricing_summary"].fn(spark, sf_dir)
    s = plan_summary(df, execute=True)
    assert any("l_shipdate" in p for p in s.pushed_filters), s.pushed_filters
    # 7 of 11 lineitem columns read — projection reached the scan
    assert all("l_partkey" not in sch for sch in s.read_schemas), s.read_schemas
    # 2 = salted partial (6×1024 rows) + final merge — the scaled-long
    # overflow guard; the raw-row shuffle count is unchanged at 1.
    assert s.shuffles == 2
    assert s.wholestage_codegen_spans >= 1


def test_q04_broadcasts_dims(spark, sf_dir):
    s = _summary(spark, sf_dir, "q04_segment_revenue")
    assert s.broadcasts >= 1  # customer (and at small SF, filtered orders)
    assert any("o_orderdate" in p for p in s.pushed_filters)


def test_q02_all_predicates_pushed(spark, sf_dir):
    s = _summary(spark, sf_dir, "q02_filter_project")
    joined = " ".join(s.pushed_filters)
    for col in ("l_quantity", "l_returnflag", "l_shipdate"):
        assert col in joined, s.pushed_filters


def test_q38_broadcasts_probes(spark, sf_dir):
    s = _summary(spark, sf_dir, "q38_ann_topk")
    assert s.broadcasts == 1
    assert any("vec_id" in p for p in s.pushed_filters)


def test_global_plan_contracts(spark, sf_dir):
    """Engine-wide plan regression net, every registered query:

    * no CartesianProduct anywhere (non-equi joins must plan as broadcast
      nested-loop with a tiny side; all-pairs tiers are built as broadcast
      joins over bounded inputs);
    * shuffle count bounded (worst legitimate cases today: q37's
      multi-join gram pipeline at 10, q15's set-op suite at 9 — a query
      suddenly exceeding 12 means a broadcast silently degraded or a
      distinct/repartition crept in). NOTE the summary counts STATIC
      Exchange nodes: a deliberately-unmaterialized shared subplan (q32's
      fused (doc_id, k, gram) aggregation, four consumers) repeats its
      exchange once per consumer in the plan text while runtime exchange
      reuse executes it once — such queries carry an explicit allowance
      here rather than a raised global bar.
    """
    # static-node allowances for shared-unmaterialized-exchange plans
    # q24 (r7): the main agg split into declarative + sketch tiers plus the
    # ~150-row quantity-histogram percentile adds exchanges that carry 3-150
    # rows each — the lineitem-sized exchanges are unchanged (see SCALE.md).
    # r9 tightened both after the restructures (q24 measured 14 static,
    # q32 measured 12).
    allowance = {"q32_quality_score": 13, "q24_agg_stats": 15}
    offenders = []
    for name, q in QUERIES.items():
        df = q.fn(spark, sf_dir)
        plan = _executed_plan(df)
        s = plan_summary(df)
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        if s.shuffles > allowance.get(name, 12):
            offenders.append((name, f"{s.shuffles} shuffles"))
    assert not offenders, offenders


def test_q35_candidates_broadcast(spark, sf_dir):
    """The jaccard attach joins must broadcast the candidate side — the
    corpus-sized shingle-array table never shuffles (SCALE.md dedup §)."""
    s = _summary(spark, sf_dir, "q35_dedup_minhash")
    assert s.broadcasts >= 1, s
    assert s.shuffles <= 5, s  # sig agg + band self-join + cand distinct


@pytest.mark.parametrize(
    "name,max_shuffles",
    [
        ("q01_pricing_summary", 2),  # salted partial + final (long overflow guard)
        ("q10_window_topk", 1),
        ("q45_tumbling_window", 1),
        ("q03_top_orders", 1),  # TakeOrderedAndProject, no global sort
        ("q04_segment_revenue", 4),
        # Window tier: each query's multiple window functions must share
        # ONE partition shuffle (same partitionBy/orderBy → one sort).
        # q11: lag-tier window + the funnel tier's dependent window minima
        # (one (user_id, day) exchange) + its single-row count = 3. The
        # funnel MUST stay the stacked-window form — the join-back form
        # measured 10 exchanges with 3 recomputed event scans.
        ("q11_window_lag", 3),
        ("q12_moving_window", 1),
        # q20: global order WITHOUT Exchange SinglePartition — range
        # exchange + per-partition rank + rank-join lead + tiny aggs. More
        # exchanges than the old single-window form but every one balanced;
        # the absence of a single-reducer sort is asserted separately below.
        ("q20_ntile_lead", 10),
        # Packing: cumulative window + rollup share the (lang, shard)
        # partitioning — the groupBy must NOT add a second exchange.
        ("q42_sequence_packing", 1),
        ("q47_sessionization", 2),
        # Round-3 suite growth: budgets pinned at measured shape + 1 slack.
        # q32 (r5 shape): ALL four gram tiers share one tagged
        # (doc_id, k, gram) aggregation that is deliberately NOT
        # materialized — its exchange appears once per consumer in the
        # STATIC plan (15 nodes) but executes once via runtime reuse
        # (measured 45s→31.3s at 100×; checkpointing it measured 85s).
        ("q32_quality_score", 13),
        # q33: accounting + quota window + tf/df aggs + top-terms window.
        ("q33_fingerprint", 7),
        # q41: benchmark-bounded severity adds only dfg + doc rollup.
        ("q41_decontaminate", 4),
        # q29: salted two-stage = exactly one extra exchange over plain agg.
        ("q29_hash_buckets", 2),
        ("q39b_lsh_buckets", 8),
        # Round-4 suite tiers: budgets pinned at measured shape + slack.
        # q34: normalization stack + fingerprint groupBy = one shuffle
        # (mapInArrow NFC is shuffle-free; the stream/fold tiers read
        # pre-written parquet — no exchange). r9: exactly 1.
        ("q34_dedup_exact", 1),
        # q36: hash tier agg + the collapse's members window / group-size
        # agg / rep filter (all slim); the clusters/pagerank iterative work
        # is cut by GC-scoped checkpoints, so the final plan stays flat.
        ("q36_simhash", 6),
        # q38b: ivf window + int8 coarse window + pq codebook/ADC aggs +
        # re-rank windows; probes, codebook, candidates, and the re-rank
        # attaches all broadcast (measured 7).
        ("q38b_ivf_topk", 7),
        # q46: hop agg + rollup merge-on-read agg + the exact-distinct
        # reference agg for the HLL sketch bound + the cohort tier's
        # distinct/window/count chain (its cohort-size join reads the
        # checkpointed offset-0 slice — no second pass over users).
        ("q46_hopping_window", 5),
        # q52: cov single-row reduce + kmeans final-assign stats agg
        # (assignment itself is the zero-shuffle literal-centroid form)
        # + the OLS tier's one map-side-combined moments agg.
        ("q52_cov_matrix", 5),
    ],
)
def test_shuffle_budget(spark, sf_dir, name, max_shuffles):
    s = _summary(spark, sf_dir, name)
    assert s.shuffles <= max_shuffles, (name, s)


def test_q34_single_corpus_scan(spark, sf_dir):
    """The r9 single-scan corpus contract: q34's final plan reads the
    documents parquet exactly ONCE (the old 5-branch union re-scanned it
    per augmentation branch — %-filters cannot prune row groups, so each
    branch was a full scan paid by both tiers; 13.2 -> 7.1 s at 100x)."""
    df = QUERIES["q34_dedup_exact"].fn(spark, sf_dir)
    plan = _executed_plan(df)
    assert plan.count("documents.parquet") == 1, plan.count("documents.parquet")
