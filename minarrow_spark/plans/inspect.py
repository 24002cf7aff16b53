"""Physical-plan introspection helpers (see package docstring)."""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame


def _executed_plan(df: DataFrame) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    # A finalized AdaptiveSparkPlan prints "== Final Plan ==" followed by
    # "== Initial Plan ==" — keep only the final section or everything
    # double-counts.
    return plan.split("== Initial Plan ==")[0]


def _formatted(df: DataFrame) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def count_exchanges(df: DataFrame) -> tuple[int, int]:
    """(shuffle exchanges, broadcast exchanges) in the executed plan."""
    plan = _executed_plan(df)
    broadcast = len(re.findall(r"BroadcastExchange", plan))
    shuffle = len(re.findall(r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)", plan))
    return shuffle, broadcast


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
