"""Relational core: scans, filters, joins, aggregations, set ops, sorts.

Covers SURVEY §2.1 (S8), §2.2 (P1-P9), §2.3 (J1-J7), §2.4 (A1-A12),
§2.6 (O1-O4), §2.7 (U1-U5). Every query has a DuckDB oracle.

Scale notes (100 TB posture), per query where relevant:
* Filters/projections are written so Catalyst pushes them into the parquet
  scan (verified via .explain — PushedFilters / ReadSchema).
* Joins against `region`/`nation`/`supplier` are explicitly broadcast; the
  fact-fact joins (orders⋈lineitem) shuffle on the join key, which is the
  right plan at any scale (AQE handles skew).
* No collect()-driven logic anywhere; aggregates use exact decimal sums so
  results are partition-order independent (also the correct pattern for
  money at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minarrow_spark.functions.arithmetic import dec, exact_sum
from minarrow_spark.queries._util import T
from minarrow_spark.registry import query

# --------------------------------------------------------------------------
# q01 — flagship: TPC-H Q1-style pricing summary (scan→filter→agg→sort)
# --------------------------------------------------------------------------


@query(
    "q01_pricing_summary",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2)))
               * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
      CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("S8", "P6", "P9", "A9", "A10", "O4"),
    bench=True,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report: the minimum end-to-end slice (SURVEY §7).

    Money math runs in scaled integers (the q04 pattern, extended to wide
    groups): quantity/price/discount/tax are exactly-2-decimal values, so
    qty×100, price×100, price_c×(100−disc_bp) (1e-4 units) and
    price_c×(100−disc_bp)×(100+tax_bp) (1e-6 units) are exact longs, and
    the hot per-row loop is pure long arithmetic — ~2× faster than
    overflow-checked decimal codegen and far kinder to JIT warmup (the
    decimal form measured 30 s first-run vs ~4 s steady at the 10×
    bench point).

    Unlike q04 there is no small natural group to bound the long sums, so
    the agg is two-level via the salt trick (operators/skew.py shape): the
    partial level groups on (flag, status, salt mod 1024) — worst-case
    per-row charge term ≈1.1e11 in 1e-6 units, so a salt group stays under
    long overflow up to ~8e7 rows ≈ SF 10⁵ per (group, salt) — and the
    final level widens to DECIMAL(38,0) before the unbounded merge, scaling
    back to currency units. Results are bit-identical to the decimal form
    in ANY partitioning (integer sums are exact and commutative); the salt
    only routes rows, so any salt value is safe. The salt is SEEDED
    (`rand(0)`): an unseeded `rand()` bakes a fresh seed literal into the
    generated code on every build, so every run recompiled its stages and
    churned them through Spark's codegen cache. The extra stage shuffles
    6×1024 partial rows — noise."""
    # Expressions as SQL STRINGS (r10 opt — the r8 q36 build-cut pattern),
    # upgraded r11 to ONE spark.sql call with {l} DataFrame substitution:
    # the Column-operator form made ~130 py4j round-trips per build
    # (0.19 s/run on a headline query), the r10 selectExpr/F.expr form
    # still ~144 (per-element list marshalling + 13 expr parses); a single
    # parameterized statement is one parse round-trip, same optimized plan
    # (r11 after-dump diff empty modulo expression ids), bit-identical
    # values. The expression strings are unchanged from the r10 form —
    # scaled-long derivations per the docstring.
    d38 = "sum(CAST({c} AS DECIMAL(38,0)))"
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               CAST({d38.format(c='qty_c')} / 100 AS DOUBLE) AS sum_qty,
               CAST({d38.format(c='price_c')} / 100 AS DOUBLE) AS sum_base_price,
               CAST({d38.format(c='disc_e4')} / 10000 AS DOUBLE) AS sum_disc_price,
               CAST({d38.format(c='charge_e6')} / 1000000 AS DOUBLE) AS sum_charge,
               CAST({d38.format(c='qty_c')} / 100 AS DOUBLE) / sum(n) AS avg_qty,
               CAST({d38.format(c='disc_bp')} / 100 AS DOUBLE) / sum(n) AS avg_disc,
               sum(n) AS count_order
        FROM (
          SELECT l_returnflag, l_linestatus, __salt,
                 sum(qty_c) AS qty_c, sum(price_c) AS price_c,
                 sum(disc_e4) AS disc_e4, sum(charge_e6) AS charge_e6,
                 sum(disc_bp) AS disc_bp, count(1) AS n
          FROM (
            SELECT l_returnflag, l_linestatus,
                   CAST(rand(0) * 1024 AS INT) AS __salt,
                   CAST(round(l_quantity * 100) AS BIGINT) AS qty_c,
                   CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
                   CAST(round(l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS disc_e4,
                   CAST(round(l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l_discount * 100) AS BIGINT))
                     * (100 + CAST(round(l_tax * 100) AS BIGINT)) AS charge_e6,
                   CAST(round(l_discount * 100) AS BIGINT) AS disc_bp
            FROM {{l}}
            WHERE l_shipdate <= CAST('1998-09-02 00:00:00' AS TIMESTAMP)
          )
          GROUP BY l_returnflag, l_linestatus, __salt
        )
        GROUP BY l_returnflag, l_linestatus
        """,
        l=T(spark, sf_dir, "lineitem"),
    )


# --------------------------------------------------------------------------
# q02 — projection + pushed-down predicates (P1, P6, P9)
# --------------------------------------------------------------------------


@query(
    "q02_filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(l_quantity AS DOUBLE) AS qty,
           l_extendedprice * (1 - l_discount) AS net
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20
      AND l_returnflag IN ('A','R')
      AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
    """,
    tags=("P1", "P6", "P9"),
)
def q02_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned scan + conjunctive predicates; all pushed to parquet."""
    l = T(spark, sf_dir, "lineitem")
    return (
        l.filter(
            F.col("l_quantity").between(10, 20)
            & F.col("l_returnflag").isin("A", "R")
            & (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("double").alias("qty"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net"),
        )
    )


# --------------------------------------------------------------------------
# q03 — top-k with deterministic tie-break (O4: TakeOrderedAndProject)
# --------------------------------------------------------------------------


@query(
    "q03_top_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
    tags=("O1", "O4", "P2"),
)
def q03_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 orders by price. Spark plans TakeOrderedAndProject — per-partition
    top-k then a k-row merge on the driver; no global sort at any scale."""
    o = T(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
    )


# --------------------------------------------------------------------------
# q04 — fact⋈fact⋈dim join + group agg (J1, A10)
# --------------------------------------------------------------------------


@query(
    "q04_segment_revenue",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
    GROUP BY c.c_mktsegment
    """,
    tags=("J1", "A3", "A10"),
    bench=True,
)
def q04_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by market segment, aggregate-before-join: lineitem collapses
    to one row per order FIRST (~4× smaller), so the join moves partial
    aggregates instead of raw line items, COUNT(DISTINCT orderkey) becomes a
    plain count of pre-grouped rows (no distinct expand over the joined
    fact), and the join reuses the groupBy's hash partitioning on orderkey.
    customer stays broadcast. Measured 1.2s vs 1.5s at sf0.1; the gap widens
    with scale (the avoided shuffle is the full joined fact table).

    The money math runs in scaled integers, not decimals: prices/discounts
    are exactly-2-decimal values, so cents x (100 - basis points) is an
    exact long in 1e-4 currency units — the hot per-order partial agg sums
    longs (~2x faster than decimal sums in codegen). Per-order sums are
    bounded (≤ ~7 items/order, ≤ ~1e10), so long never overflows at any SF;
    the small post-join final agg widens to decimal before summing."""
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = T(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1994-01-01 00:00:00").cast("timestamp")
    ).select("o_orderkey", "o_custkey")
    l = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
    # Expressions as SQL strings (r11 — the q01/q36 build-cut pattern,
    # mechanical transcription of the Column form): same plan, ~20 fewer
    # py4j round-trips per build on a headline query.
    # Measured refusal (r11 session 4): the q01 one-statement spark.sql
    # form was A/B'd here too — ~178 py4j calls collapse to ~17, but
    # spark.sql ANALYZES eagerly and the 3-table substitution's analysis
    # costs what the round-trips saved (interleaved end-to-end medians
    # 0.980 old vs 0.970 new — a wash; q01's single-table form wins every
    # pair). Kept the lazy DSL form.
    per_order = (
        l.selectExpr(
            "l_orderkey",
            # cents × (100 − basis points) = exact long in 1e-4 currency
            # units; per-order sums are bounded (≤ ~7 items/order) so the
            # long partial never overflows at any SF.
            "CAST(round(l_extendedprice * 100) AS BIGINT)"
            " * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_e4",
        )
        .groupBy("l_orderkey")
        .agg(
            F.expr("sum(rev_e4) AS rev_e4"),
            F.expr("count(1) AS n_items"),
        )
    )
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey, "inner")
        .join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            # widen to decimal only for the small post-join final merge,
            # then scale 1e-4 units back to currency
            F.expr(
                "CAST(sum(CAST(rev_e4 AS DECIMAL(38,0))) / 10000 AS DOUBLE)"
                " AS revenue"
            ),
            F.expr("CAST(sum(n_items) AS BIGINT) AS n_items"),
            F.expr("count(1) AS n_orders"),
        )
    )


# --------------------------------------------------------------------------
# q05 — broadcast dim⋈dim⋈fact star join (J5)
# --------------------------------------------------------------------------


@query(
    "q05_region_customers",
    oracle="""
    SELECT r.r_name, n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY r.r_name, n.n_name
    """,
    tags=("J1", "J5", "A10"),
)
def q05_region_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: both dims broadcast — zero shuffles on the fact side until
    the final (tiny) aggregation."""
    r = T(spark, sf_dir, "region")
    n = T(spark, sf_dir, "nation")
    c = T(spark, sf_dir, "customer").select("c_nationkey", "c_acctbal")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            exact_sum("c_acctbal", "total_acctbal"),
        )
    )


# --------------------------------------------------------------------------
# q06/q07 — semi / anti joins (J3)
# --------------------------------------------------------------------------


@query(
    "q06_semi_join",
    oracle="""
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_active
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 100000)
    GROUP BY c_mktsegment
    """,
    tags=("J3", "bloom"),
)
def q06_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with at least one large order (left-semi = EXISTS), with
    Bloom scan pruning (operators/bloom.py): the qualifying order keys
    aggregate into an NDV-sized filter (map-side combined, model state)
    that drops non-matching customers AT THE SCAN, before the join shuffle
    — the exact semi-join then removes the false positives, so results are
    identical to the plain semi-join (oracle unchanged) while the shuffle
    carries only plausible matches. bloom_build_auto is COST-AWARE and
    REFUSES when the filter can't pay: on this predicate ~95% of custkeys
    qualify (no pruning possible at any scale), and at 100× replica scale
    the ~1M distinct keys would saturate any literal-sized filter — the
    old always-on fixed 2 KB filter measured 12.2 s of pure overhead vs
    1.6 s for the refusal path's plain exact semi-join (SCALE.md). The
    correct 100 TB plan for a non-selective dim IS the plain join; the
    two one-row HLL decision probes are the price of knowing that."""
    from minarrow_spark.operators.bloom import bloom_build_auto, bloom_might_contain

    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    built = bloom_build_auto(
        o.select("o_custkey"),
        "o_custkey",
        probe_keys=c.select("c_custkey"),
        probe_key="c_custkey",
    )
    pruned = c
    if built is not None:
        words, n_bits = built
        pruned = c.filter(
            bloom_might_contain(F.col("c_custkey"), words, n_bits=n_bits)
        )
    return (
        pruned.join(o, pruned.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@query(
    "q07_anti_join",
    oracle="""
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_inactive
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    """,
    tags=("J3",),
)
def q07_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders at all (left-anti = NOT EXISTS)."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_inactive"))
    )


# --------------------------------------------------------------------------
# q08 — outer join with null accounting (J2)
# --------------------------------------------------------------------------


@query(
    "q08_outer_join",
    oracle="""
    SELECT o.o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN l.l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unmatched,
           CAST(SUM(CAST(COALESCE(l.l_quantity, 0) AS DECIMAL(18,2))) AS DOUBLE)
             AS total_qty
    FROM orders o
    LEFT JOIN lineitem l
      ON l.l_orderkey = o.o_orderkey AND l.l_quantity > 45
    GROUP BY o.o_orderstatus
    """,
    tags=("J2", "A7"),
)
def q08_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with a filtered right side; counts preserved/unmatched
    rows — exercises reference null-mask semantics at the relational level."""
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    l = T(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45).select(
        "l_orderkey", "l_quantity"
    )
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("l_orderkey").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_unmatched"),
            F.sum(dec(F.coalesce(F.col("l_quantity"), F.lit(0))))
            .cast("double")
            .alias("total_qty"),
        )
    )


# --------------------------------------------------------------------------
# q09 — non-equi range join against a generated bucket dim (J4, J6)
# --------------------------------------------------------------------------


@query(
    "q09_range_join",
    oracle="""
    WITH buckets AS (
      SELECT CAST(i AS BIGINT) AS bucket_id,
             CAST(i * 100.0 AS DOUBLE) AS lo,
             CAST((i + 1) * 100.0 AS DOUBLE) AS hi
      FROM range(0, 10) t(i)
    )
    SELECT b.bucket_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events e
    JOIN buckets b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.bucket_id
    """,
    tags=("J4", "J6"),
)
def q09_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval containment join. The bucket dim is tiny → broadcast
    nested-loop, the only sane physical plan for non-equi at scale."""
    e = T(spark, sf_dir, "events").select("value")
    b = spark.range(0, 10).select(
        F.col("id").alias("bucket_id"),
        (F.col("id") * 100.0).alias("lo"),
        ((F.col("id") + 1) * 100.0).alias("hi"),
    )
    return (
        e.join(F.broadcast(b), (e.value >= b.lo) & (e.value < b.hi))
        .groupBy("bucket_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", "sum_value"),
        )
    )


# --------------------------------------------------------------------------
# q14 — distinct rows (A12)
# --------------------------------------------------------------------------


@query(
    "q14_distinct",
    oracle="""
    SELECT DISTINCT l_returnflag, l_linestatus, CAST(l_linenumber AS BIGINT) AS line
    FROM lineitem
    """,
    tags=("A12",),
)
def q14_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct over a low-cardinality projection (map-side partial distinct)."""
    l = T(spark, sf_dir, "lineitem")
    return l.select(
        "l_returnflag", "l_linestatus", F.col("l_linenumber").cast("bigint").alias("line")
    ).distinct()


# --------------------------------------------------------------------------
# q15 — INTERSECT / EXCEPT (U5)
# --------------------------------------------------------------------------


@query(
    "q15_set_ops",
    oracle="""
    SELECT 'intersect' AS op, CAST(COUNT(*) AS BIGINT) AS n FROM (
      SELECT DISTINCT o_custkey AS k FROM orders
      INTERSECT
      SELECT DISTINCT c_custkey FROM customer
    )
    UNION ALL
    SELECT 'except' AS op, CAST(COUNT(*) AS BIGINT) AS n FROM (
      SELECT DISTINCT c_custkey AS k FROM customer
      EXCEPT
      SELECT DISTINCT o_custkey FROM orders
    )
    UNION ALL
    SELECT 'union_rows', CAST(COUNT(*) AS BIGINT) FROM (
      SELECT o_orderkey FROM orders WHERE o_totalprice < 50000
      UNION ALL
      SELECT o_orderkey FROM orders WHERE o_totalprice >= 50000
    )
    UNION ALL
    SELECT 'union_keys', CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) FROM (
      SELECT o_orderkey FROM orders WHERE o_totalprice < 50000
      UNION ALL
      SELECT o_orderkey FROM orders WHERE o_totalprice >= 50000
    )
    """,
    tags=("U1", "U5"),
)
def q15_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-set algebra suite: intersection and difference between key domains
    (U5) plus vertical concatenation of two disjoint scans (U1 — reference
    `concat`, `src/traits/concatenate.rs:76`; union is a no-shuffle plan
    node). One (op, n) row per set operation."""
    o = T(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k")).distinct()
    c = T(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k")).distinct()
    inter = (
        o.intersect(c).agg(F.count(F.lit(1)).alias("n")).select(F.lit("intersect").alias("op"), "n")
    )
    exc = (
        c.subtract(o).agg(F.count(F.lit(1)).alias("n")).select(F.lit("except").alias("op"), "n")
    )
    ord_full = T(spark, sf_dir, "orders")
    lo = ord_full.filter(F.col("o_totalprice") < 50000).select("o_orderkey")
    hi = ord_full.filter(F.col("o_totalprice") >= 50000).select("o_orderkey")
    unioned = lo.unionByName(hi)
    u_rows = unioned.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("union_rows").alias("op"), "n"
    )
    u_keys = unioned.agg(F.countDistinct("o_orderkey").alias("n")).select(
        F.lit("union_keys").alias("op"), "n"
    )
    return inter.unionByName(exc).unionByName(u_rows).unionByName(u_keys)


# --------------------------------------------------------------------------
# q16 — rollup (A11)
# --------------------------------------------------------------------------


@query(
    "q16_rollup_cube",
    oracle="""
    SELECT 'rollup' AS form,
           COALESCE(r_name, 'ALL') AS region,
           COALESCE(n_name, 'ALL') AS nation,
           CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS BIGINT) AS gid,
           CAST(COUNT(s_suppkey) AS BIGINT) AS n_suppliers,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    UNION ALL
    SELECT 'cube',
           COALESCE(r_name, 'ALL'),
           COALESCE(n_name, 'ALL'),
           CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS BIGINT),
           CAST(COUNT(s_suppkey) AS BIGINT),
           CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE)
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY CUBE (r_name, n_name)
    """,
    tags=("A11", "J5"),
)
def q16_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP and full OLAP CUBE over (region, nation) in one result, with
    GROUPING() markers — Catalyst expands each to a single shuffle with
    partial aggregation; the `gid` column disambiguates data NULLs from
    subtotal NULLs. (The reference's `Cube` struct is a 3-D container, NOT
    OLAP CUBE — SURVEY §2.4 A11; both grouping-set forms are pinned here.)"""
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    joined = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )

    def grouped(form: str, g) -> DataFrame:
        return (
            g.agg(
                (F.grouping("r_name") * 2 + F.grouping("n_name"))
                .cast("bigint")
                .alias("gid"),
                F.count("s_suppkey").alias("n_suppliers"),
                exact_sum("s_acctbal", "total_bal"),
            )
            .select(
                F.lit(form).alias("form"),
                F.coalesce("r_name", F.lit("ALL")).alias("region"),
                F.coalesce("n_name", F.lit("ALL")).alias("nation"),
                "gid",
                "n_suppliers",
                "total_bal",
            )
        )

    return grouped("rollup", joined.rollup("r_name", "n_name")).unionByName(
        grouped("cube", joined.cube("r_name", "n_name"))
    )


# --------------------------------------------------------------------------
# q17 — pivot / cross-tabulation (A5, T20)
# --------------------------------------------------------------------------


@query(
    "q17_crosstab",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_f,
           CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_o
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("A5", "T20"),
)
def q17_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D contingency counts (reference `cross_tabulate`, `string.rs:2034`)
    via groupBy().pivot() with explicit pivot values (no discovery pass)."""
    l = T(spark, sf_dir, "lineitem")
    p = (
        l.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .count()
    )
    return p.select(
        "l_returnflag",
        F.coalesce(F.col("F"), F.lit(0)).cast("bigint").alias("cnt_f"),
        F.coalesce(F.col("O"), F.lit(0)).cast("bigint").alias("cnt_o"),
    )


# --------------------------------------------------------------------------
# q19 — slice / gather / split-at-index suite (P2, P3, O3, U2)
# --------------------------------------------------------------------------


@query(
    "q19_slice_gather",
    oracle="""
    WITH ordered AS (
      SELECT o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn
      FROM orders
    ),
    numbered AS (
      SELECT s_acctbal, ROW_NUMBER() OVER (ORDER BY s_suppkey) AS rn
      FROM supplier
    )
    SELECT 'slice' AS op, o_orderkey AS key, CAST(rn AS BIGINT) AS n,
           o_totalprice AS val
    FROM ordered WHERE rn BETWEEN 101 AND 110
    UNION ALL
    SELECT 'gather', o_orderkey, CAST(rn AS BIGINT), o_totalprice
    FROM ordered WHERE rn IN (1, 7, 500)
    UNION ALL
    SELECT 'split',
           CAST(CASE WHEN rn <= 50 THEN 0 ELSE 1 END AS BIGINT),
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE)
    FROM numbered GROUP BY 2
    """,
    tags=("P2", "P3", "O3", "U2"),
)
def q19_slice_gather(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-index suite in one (op, key, n, val) result set:

    * slice  — row window `.r(100..110)` (reference `ArrayV` offset+len) as
      row_number predicates over a unique order key;
    * gather — gather-by-index (reference `gather_rows`, `table_view.rs:787`);
    * split  — split-at-index (reference `Table::split` → SuperTable,
      `table.rs:603`): first 50 supplier rows vs the rest, summarized.

    Order is defined by unique keys, so every index is stable under any
    partitioning. Row numbers come from `global_ranks` (operators/
    ranking.py): range-repartition + local rank + broadcast offsets — the
    exact at-index semantics with NO single-reducer window, so the suite
    keeps its meaning at fact scale (where a range filter on the sort key
    additionally partition-prunes, as the docstrings note)."""
    from concurrent.futures import ThreadPoolExecutor

    from minarrow_spark.operators.ranking import global_ranks

    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    s = T(spark, sf_dir, "supplier")
    # The two global_ranks calls each run an eager range-repartition
    # checkpoint (a blocking job) and are lineage-independent (orders vs
    # supplier), so they submit CONCURRENTLY (r10 opt — the q35/q40
    # same-width overlap pattern: both are small repartition jobs, not the
    # q34 wide-vs-tiny FIFO case); one job boundary's wall-clock disappears.
    with ThreadPoolExecutor(2) as _pool:
        _f_ranked = _pool.submit(
            global_ranks, o, [F.col("o_orderkey")], rank_col="rn"
        )
        _f_numbered = _pool.submit(
            global_ranks,
            s.select("s_acctbal", "s_suppkey"),
            [F.col("s_suppkey")],
            rank_col="rn",
        )
        ranked = _f_ranked.result()
        numbered = _f_numbered.result().drop("s_suppkey")
    # slice + gather in ONE pass over the ranked plan (r11 opt): as two
    # branches each re-ran the rank window + offsets join above the
    # checkpointed repartition (exchange reuse shares only the SHUFFLE —
    # every consumer re-runs the window/join above it). The predicates are
    # disjoint (rn 101–110 vs {1, 7, 500}), so one filter + CASE emits
    # exactly the same rows; the plan drops one window + offsets subtree.
    sg_rows = ranked.filter(
        F.col("rn").between(101, 110) | F.col("rn").isin(1, 7, 500)
    ).select(
        F.when(F.col("rn").between(101, 110), F.lit("slice"))
        .otherwise(F.lit("gather"))
        .alias("op"),
        F.col("o_orderkey").alias("key"),
        F.col("rn").cast("bigint").alias("n"),
        F.col("o_totalprice").alias("val"),
    )
    split_rows = (
        numbered.withColumn(
            "part_id",
            F.when(F.col("rn") <= 50, F.lit(0)).otherwise(F.lit(1)).cast("bigint"),
        )
        .groupBy("part_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            exact_sum("s_acctbal", "val"),
        )
        .select(
            F.lit("split").alias("op"),
            F.col("part_id").alias("key"),
            "n",
            "val",
        )
    )
    return sg_rows.unionByName(split_rows)
