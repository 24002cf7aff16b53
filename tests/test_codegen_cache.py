"""Steady-state queries reuse their generated code.

Spark keeps compiled whole-stage-codegen classes in an LRU cache
(``spark.sql.codegen.cache.maxEntries``). A repeated query only skips
compilation if (1) its plan generates byte-identical source on every build
and (2) the classes of everything run since it last ran still fit in the
cache. Both tests read ``CodegenMetrics``' compile counter around query
runs; a nonzero delta names the query that recompiled.
"""

from __future__ import annotations

import random

from bench import materialize
from minarrow_spark.registry import all_queries
from minarrow_spark.session import codegen_compiles


def _headline():
    qs = all_queries()
    return {n: q for n, q in qs.items() if q.bench}


def _run_counted(spark, sf_dir, q) -> int:
    c0 = codegen_compiles(spark)
    materialize(q.fn(spark, sf_dir))
    return codegen_compiles(spark) - c0


def test_repeat_build_compiles_nothing(spark, sf_dir):
    """Build-invariance: after two runs of a query, a third build and run
    compiles 0 classes. A per-build literal in the plan (an unseeded
    ``rand()`` salt) makes every build compile fresh classes."""
    qs = _headline()
    recompiled = {}
    for name, q in sorted(qs.items()):
        for _ in range(2):
            materialize(q.fn(spark, sf_dir))
        n = _run_counted(spark, sf_dir, q)
        if n:
            recompiled[name] = n
    assert not recompiled, f"repeat builds compiled classes: {recompiled}"


def test_round_robin_pass_compiles_nothing(spark, sf_dir):
    """Working set fits the cache: after one warm pass over the headline
    queries in a shuffled order, a second pass (another shuffled order)
    compiles 0 classes. At Spark's default 100-entry cache the ~175 classes
    of these queries evict each other and every pass recompiles."""
    qs = _headline()
    rng = random.Random(7)
    names = sorted(qs)
    rng.shuffle(names)
    for name in names:
        materialize(qs[name].fn(spark, sf_dir))
    rng.shuffle(names)
    recompiled = {}
    for name in names:
        n = _run_counted(spark, sf_dir, qs[name])
        if n:
            recompiled[name] = n
    assert not recompiled, f"second pass compiled classes: {recompiled}"
