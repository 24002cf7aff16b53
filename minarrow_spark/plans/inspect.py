"""Physical-plan introspection helpers (see package docstring)."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def _executed_plan(df: DataFrame) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    # A finalized AdaptiveSparkPlan prints "== Final Plan ==" followed by
    # "== Initial Plan ==" — keep only the final section or everything
    # double-counts.
    return plan.split("== Initial Plan ==")[0]


def count_exchanges(df: DataFrame) -> tuple[int, int]:
    """(shuffle exchanges, broadcast exchanges) in the executed plan."""
    plan = _executed_plan(df)
    broadcast = len(re.findall(r"BroadcastExchange", plan))
    shuffle = len(re.findall(r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)", plan))
    return shuffle, broadcast
