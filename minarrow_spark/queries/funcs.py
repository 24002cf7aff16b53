"""Scalar-function suites: strings (T1-T20), datetimes (D1-D12), arithmetic
semantics (M1-M9), and statistical aggregates (A1-A9).

These queries pin the *semantics* the reference implements in its kernels —
0-based find, char vs byte length, div-by-zero nullification, floordiv toward
−∞ — as cross-engine-deterministic result sets.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from minarrow_spark.functions.arithmetic import (
    dec,
    floordiv,
    floordiv_int_sql,
    remainder,
    table_op,
    try_div,
)
from minarrow_spark.functions.datetimes import (
    date_str,
    epoch_seconds,
    is_leap_year,
    iso_dow,
    iso_week,
)
from minarrow_spark.functions.strings import byte_length, char_length, count_match, find0
from minarrow_spark.operators.sketch import cms_bucket_sql
from minarrow_spark.queries._util import T
from minarrow_spark.registry import query


@query(
    "q21_string_suite",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS up,
           lower(p_brand) AS lo,
           substr(p_name, 3, 5) AS sub,
           CAST(length(p_name) AS BIGINT) AS len_chars,
           CAST(octet_length(CAST(p_name AS BLOB)) AS BIGINT) AS len_bytes,
           CAST(strpos(p_name, 'al') - 1 AS BIGINT) AS find0_al,
           repeat(p_brand, 2) AS rep2,
           lpad(p_brand, 12, '*') AS padded,
           trim(p_name) AS trimmed,
           reverse(p_brand) AS rev,
           concat(p_brand, '#', p_type) AS joined,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
           replace(p_name, 'a', '@') AS replaced,
           contains(p_name, 'le') AS has_le,
           starts_with(p_name, 'b') AS sw_b,
           ends_with(p_name, 'e') AS ew_e,
           CAST(length(regexp_extract_all(p_name, 'a')) AS BIGINT) AS n_a,
           concat(p_brand, CAST(p_partkey + 1 AS VARCHAR)) AS str_num,
           CAST(p_partkey AS VARCHAR) AS num_str
    FROM part
    """,
    tags=("A6", "T1", "T2", "T3", "T4", "T5", "T6", "T7", "T8", "T9", "T10",
          "T11", "T12", "T14", "T15", "T16", "T18", "T19"),
)
def q21_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-series string kernels in one projection (single codegen stage)."""
    p = T(spark, sf_dir, "part")
    c = F.col("p_name")
    return p.select(
        "p_partkey",
        F.upper(c).alias("up"),
        F.lower("p_brand").alias("lo"),
        F.substring(c, 3, 5).alias("sub"),
        char_length(c).alias("len_chars"),
        byte_length(c).alias("len_bytes"),
        find0(c, "al").alias("find0_al"),
        F.repeat(F.col("p_brand"), 2).alias("rep2"),
        F.lpad(F.col("p_brand"), 12, "*").alias("padded"),
        F.trim(c).alias("trimmed"),
        F.reverse(F.col("p_brand")).alias("rev"),
        F.concat(F.col("p_brand"), F.lit("#"), F.col("p_type")).alias("joined"),
        F.regexp_replace(c, "[aeiou]", "_").alias("devoweled"),
        F.replace(c, F.lit("a"), F.lit("@")).alias("replaced"),
        c.contains("le").alias("has_le"),
        c.startswith("b").alias("sw_b"),
        c.endswith("e").alias("ew_e"),
        count_match(c, "a").alias("n_a"),
        # T18 string⊕numeric arithmetic ("a"+1 → "a1", `arithmetic/string.rs:88`)
        F.concat(
            F.col("p_brand"), (F.col("p_partkey") + 1).cast("string")
        ).alias("str_num"),
        # T19 numeric→string cast (`utils.rs:120,135`)
        F.col("p_partkey").cast("string").alias("num_str"),
    )


@query(
    "q22_datetime_suite",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(month(o_orderdate) AS BIGINT) AS mo,
           CAST(day(o_orderdate) AS BIGINT) AS dom,
           CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
           CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
           CAST(isodow(o_orderdate) AS BIGINT) AS dow_iso,
           CAST(week(o_orderdate) AS BIGINT) AS wk_iso,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           strftime(CAST(o_orderdate AS DATE) + 7, '%Y-%m-%d') AS plus7d,
           strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3m,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-01')
                AS BIGINT) AS days_to_end,
           (year(o_orderdate) % 4 = 0
            AND (year(o_orderdate) % 100 <> 0 OR year(o_orderdate) % 400 = 0))
             AS leap,
           CAST(epoch_us(o_orderdate) // 1000000 AS BIGINT) AS epoch_s,
           CAST(epoch_us(o_orderdate + INTERVAL 36 HOUR) // 1000000 AS BIGINT)
             AS plus36h_s,
           o_orderdate < TIMESTAMP '1995-06-01 00:00:00' AS before_95h2,
           o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                           AND TIMESTAMP '1996-12-31 23:59:59' AS in_1996,
           CAST(epoch(timezone('America/New_York', timezone('UTC', o_orderdate)))
                - epoch(o_orderdate) AS BIGINT) AS ny_offset_s,
           CAST(epoch_us(strptime(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'),
                                  '%Y-%m-%d %H:%M:%S')) // 1000000 AS BIGINT)
             AS reparsed_s
    FROM orders
    """,
    tags=("D1", "D2", "D3", "D4", "D5", "D6", "D7", "D8", "D9", "D10", "D11", "D12"),
)
def q22_datetime_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D-series datetime kernels in one projection."""
    o = T(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).cast("bigint").alias("yr"),
        F.month(d).cast("bigint").alias("mo"),
        F.dayofmonth(d).cast("bigint").alias("dom"),
        F.quarter(d).cast("bigint").alias("qtr"),
        F.dayofyear(d).cast("bigint").alias("doy"),
        iso_dow(d).alias("dow_iso"),
        iso_week(d).alias("wk_iso"),
        date_str(F.date_trunc("month", d)).alias("month_start"),
        date_str(F.date_add(F.to_date(d), 7)).alias("plus7d"),
        date_str(F.add_months(F.to_date(d), 3)).alias("plus3m"),
        F.datediff(F.lit("1998-12-01").cast("date"), F.to_date(d))
        .cast("bigint")
        .alias("days_to_end"),
        is_leap_year(d).alias("leap"),
        epoch_seconds(d).alias("epoch_s"),
        # D4 add_duration (`datetime_ops.rs:78-81`)
        epoch_seconds(d + F.expr("INTERVAL 36 HOURS")).alias("plus36h_s"),
        # D7 is_before / between (`datetime_ops.rs:103-109`)
        (d < F.lit("1995-06-01 00:00:00").cast("timestamp_ntz")).alias("before_95h2"),
        d.between(
            F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"),
            F.lit("1996-12-31 23:59:59").cast("timestamp_ntz"),
        ).alias("in_1996"),
        # D10 timezone convert (`datetime/tz.rs:502`): UTC→NY wall-clock offset
        (
            epoch_seconds(
                F.convert_timezone(F.lit("UTC"), F.lit("America/New_York"), d)
            )
            - epoch_seconds(d)
        ).alias("ny_offset_s"),
        # D11 string parse round-trip (`utils.rs:57`)
        epoch_seconds(
            F.to_timestamp(
                F.date_format(d, "yyyy-MM-dd HH:mm:ss"), "yyyy-MM-dd HH:mm:ss"
            )
        ).alias("reparsed_s"),
    )


@query(
    "q23_arith_semantics",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice / NULLIF(l_discount, 0) AS try_div,
           CAST(FLOOR((l_quantity - 25.0) / 7.0) AS BIGINT) AS fdiv,
           CASE WHEN l_linenumber - 3 = 0 THEN NULL
                ELSE CAST((l_orderkey // (l_linenumber - 3))
                          - (CASE WHEN l_orderkey % (l_linenumber - 3) <> 0
                                   AND ((l_orderkey < 0) <> (l_linenumber - 3 < 0))
                                  THEN 1 ELSE 0 END) AS BIGINT) END AS fdiv_int,
           CASE WHEN l_linenumber - 3 = 0 THEN NULL
                ELSE CAST(l_orderkey % (l_linenumber - 3) AS BIGINT) END AS rem,
           round(pow(1 + l_discount, 3), 6) AS pw,
           abs(l_quantity - 25.0) AS ab,
           CAST(ceil(l_discount * 10) AS BIGINT) AS ce,
           CAST(floor(l_tax * 10) AS BIGINT) AS fl,
           CAST(sign(l_quantity - 25.0) AS DOUBLE) AS sg,
           round(l_extendedprice * 0.001, 2) AS rnd,
           sqrt(l_extendedprice) AS sq,
           round(ln(l_extendedprice), 6) AS lg
    FROM lineitem
    WHERE l_orderkey <= 2000
    """,
    tags=("M1", "M2", "M4", "M9", "P6"),
)
def q23_arith_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference arithmetic edge semantics: div-by-zero → null (masked-array
    rule, `operators.rs:27-30`), floordiv toward −∞ (`operators.rs:41-47`) on
    both the float path and the exact 64-bit integer path (DuckDB's `//`
    truncates, so the oracle applies the same sign adjustment explicitly),
    C-style remainder, plus the unary/math family. Per-row IEEE double ops —
    bit-deterministic, no rounding needed."""
    l = T(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 2000)
    return l.select(
        "l_orderkey",
        "l_linenumber",
        try_div(F.col("l_extendedprice"), F.col("l_discount")).alias("try_div"),
        floordiv(F.col("l_quantity") - 25.0, F.lit(7.0)).cast("bigint").alias("fdiv"),
        F.expr(floordiv_int_sql("`l_orderkey`", "`l_linenumber` - 3"))
        .cast("bigint")
        .alias("fdiv_int"),
        remainder(F.col("l_orderkey"), F.col("l_linenumber") - 3)
        .cast("bigint")
        .alias("rem"),
        F.round(F.pow(1 + F.col("l_discount"), 3), 6).alias("pw"),
        F.abs(F.col("l_quantity") - 25.0).alias("ab"),
        F.ceil(F.col("l_discount") * 10).cast("bigint").alias("ce"),
        F.floor(F.col("l_tax") * 10).cast("bigint").alias("fl"),
        F.signum(F.col("l_quantity") - 25.0).cast("double").alias("sg"),
        F.round(F.col("l_extendedprice") * 0.001, 2).alias("rnd"),
        F.sqrt(F.col("l_extendedprice")).alias("sq"),
        F.round(F.log(F.col("l_extendedprice")), 6).alias("lg"),
    )


@query(
    "q24_agg_stats",
    oracle=f"""
    WITH stats AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(MIN(l_quantity) AS DOUBLE) AS min_qty,
             CAST(MAX(l_quantity) AS DOUBLE) AS max_qty,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
             (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                       * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
              - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
             / (COUNT(*) - 1.0) AS var_qty,
             CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
             CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null_qty,
             round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
             round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
             TRUE AS approx_parts_ok,
             TRUE AS approx_orders_ok,
             TRUE AS approx_p90_ok,
             CAST(SUM(CASE WHEN FLOOR((l_quantity - 1) / 5) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS h0,
             CAST(SUM(CASE WHEN FLOOR((l_quantity - 1) / 5) = 1 THEN 1 ELSE 0 END) AS BIGINT) AS h1,
             CAST(SUM(CASE WHEN FLOOR((l_quantity - 1) / 5) = 2 THEN 1 ELSE 0 END) AS BIGINT) AS h2,
             CAST(SUM(CASE WHEN FLOOR((l_quantity - 1) / 5) = 3 THEN 1 ELSE 0 END) AS BIGINT) AS h3,
             CAST(SUM(CASE WHEN FLOOR((l_quantity - 1) / 5) = 4 THEN 1 ELSE 0 END) AS BIGINT) AS h4,
             CAST(SUM(CASE WHEN FLOOR((l_quantity - 1) / 5) = 5 THEN 1 ELSE 0 END) AS BIGINT) AS h5,
             CAST(SUM(CASE WHEN FLOOR((l_quantity - 1) / 5) = 6 THEN 1 ELSE 0 END) AS BIGINT) AS h6,
             CAST(SUM(CASE WHEN FLOOR((l_quantity - 1) / 5) = 7 THEN 1 ELSE 0 END) AS BIGINT) AS h7,
             CAST(SUM(CASE WHEN FLOOR((l_quantity - 1) / 5) = 8 THEN 1 ELSE 0 END) AS BIGINT) AS h8,
             CAST(SUM(CASE WHEN FLOOR((l_quantity - 1) / 5) = 9 THEN 1 ELSE 0 END) AS BIGINT) AS h9
      FROM lineitem
      GROUP BY l_returnflag
    ),
    pkc AS (
      SELECT l_returnflag, l_partkey, COUNT(*) AS pc
      FROM lineitem GROUP BY l_returnflag, l_partkey
    ),
    top1 AS (
      SELECT l_returnflag, l_partkey AS top_part, CAST(pc AS BIGINT) AS top_part_n
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                         ORDER BY pc DESC, l_partkey) AS r
            FROM pkc) WHERE r = 1
    ),
    cmsrows AS (
      SELECT l_returnflag, t.j,
             CASE t.j
               WHEN 0 THEN {cms_bucket_sql('l_partkey', 0)}
               WHEN 1 THEN {cms_bucket_sql('l_partkey', 1)}
               WHEN 2 THEN {cms_bucket_sql('l_partkey', 2)}
               ELSE {cms_bucket_sql('l_partkey', 3)}
             END AS bucket
      FROM lineitem, range(0, 4) t(j)
    ),
    sketch AS (
      SELECT l_returnflag, j, bucket, COUNT(*) AS c
      FROM cmsrows GROUP BY l_returnflag, j, bucket
    ),
    probes AS (
      SELECT l_returnflag, top_part, t.j,
             CASE t.j
               WHEN 0 THEN {cms_bucket_sql('top_part', 0)}
               WHEN 1 THEN {cms_bucket_sql('top_part', 1)}
               WHEN 2 THEN {cms_bucket_sql('top_part', 2)}
               ELSE {cms_bucket_sql('top_part', 3)}
             END AS bucket
      FROM top1, range(0, 4) t(j)
    ),
    est AS (
      SELECT p.l_returnflag, CAST(MIN(s.c) AS BIGINT) AS top_part_cms
      FROM probes p JOIN sketch s
        ON s.l_returnflag = p.l_returnflag AND s.j = p.j AND s.bucket = p.bucket
      GROUP BY p.l_returnflag
    )
    SELECT stats.*, top1.top_part, top1.top_part_n, est.top_part_cms
    FROM stats JOIN top1 USING (l_returnflag) JOIN est USING (l_returnflag)
    """,
    tags=("A3", "A4", "A7", "A9", "A10"),
)
def q24_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates via exact scaled-long partial sums (A9: the
    reference delegates these to its simd-kernels crate; here they're
    order-independent by construction). Includes exact count-distinct (A3),
    null counting (A7), and the HyperLogLog++ cardinality estimator (A4,
    reference sampling estimators `utils.rs:327,348`) asserted against the
    exact count: `approx_*_ok` is TRUE iff the rsd=0.02 sketch lands within
    10% of COUNT(DISTINCT). The sketch is deterministic for fixed input, so
    the boolean is a *hash-checked* error bound — strictly stronger than the
    rows-only driver check an approximate query would otherwise get. Same
    pattern for quantiles: exact interpolated median/p90 (linear
    interpolation matches DuckDB `quantile_cont`; rounded to 6 digits) with
    the `percentile_approx` sketch bounded to ±1 quantity unit. The exact
    percentiles are computed from a (returnflag, quantity) weighted
    histogram, NOT `F.percentile` — see the inline note (r7: the all-values
    percentile buffer was the last unbounded-state aggregate here).

    Physical shape: the EXACT distinct counts come from two-level
    aggregations joined back on the 3-row group key — NOT from
    countDistinct inside the main agg. Two different DISTINCT columns in
    one aggregate force Catalyst's Expand (every input row replicated per
    distinct group, and the HLL buffers ride the expanded rows too):
    measured 10.5s vs 0.8s at sf0.1. The HLL sketches stay in the main
    agg — they're ordinary partial-aggregating expressions. n_parts rides
    the heavy-hitter tier's (returnflag, partkey) aggregation (r6: one
    shared scan+shuffle for top-1, n_parts AND the CMS — see below);
    n_orders keeps its own two-level distinct (different key space).

    Plus the count-min sketch tier (operators/sketch.py): per-group 4×256
    frequency sketches — the fixed-size mergeable summary that answers
    heavy-hitter queries at 100 TB without a key-cardinality shuffle —
    probed for each group's most frequent partkey. md5-bucket hashes make
    the sketch bit-deterministic, so the approximate estimate itself
    hash-checks against DuckDB (top_part_cms ≥ top_part_n by CMS's
    overestimate-only guarantee)."""
    l = T(spark, sf_dir, "lineitem")

    # Declarative tier SPLIT from the sketch tier (r7, measured at 100×):
    # approx_count_distinct / percentile_approx are TypedImperativeAggregates
    # — one of them in an agg moves the WHOLE aggregation onto the per-row
    # ObjectHashAggregate path, so the 17 cheap declarative columns ran
    # object-ized too (fused: 16.3 s; split: decl 1.9 s + sketches 4.7 s at
    # 100× — the join is 3 rows). Quantity sums ride scaled longs (the
    # q04 cents pattern; |qty| ≤ 50 ⇒ cents ≤ 5e3, qty²·1e4 ≤ 2.5e7 per
    # row — at true 100 TB row counts salt to (flag, salt) long partials
    # first, the q01 pattern, before the long ceiling ~3e11 rows/group).
    # s1c/100.0 and s2u/10000.0 are single correctly-rounded IEEE divides,
    # equal to the old decimal→double casts bit-for-bit WHILE the scaled
    # long sum stays below 2^53 (~9e15; here ≤1.5e15 per group at 100×) —
    # past that, long→double rounds once before the divide, a second
    # rounding the single decimal→double cast didn't have. A true scale-up
    # must salt (the ~3e11 rows/group note above) BEFORE that bound, which
    # restores exactness: salted partials stay under 2^53 each and the
    # final merge is decimal.
    # ONE (returnflag, quantity) weighted histogram feeds the whole
    # declarative tier (r9 — deletes a full corpus scan): l_quantity is
    # unit-grained (~50 distinct values), so count/min/max/avg/var, the
    # null count, AND the 10 equi-width buckets are all EXACT functions of
    # (flag, qty, qn) — ~153 rows after the map-side combine. Bit-identity
    # of the scaled-long moments: every row with quantity v contributes the
    # same round(100v) long, so Σ_rows qc == Σ_v qn·qc(v) (integer addition
    # is associative), and the double divides are the identical expressions
    # on identical longs. The exact-percentile branch below consumes the
    # SAME aggregation (null row filtered off), sharing its exchange via
    # runtime reuse. The null-quantity group rides as its own histogram
    # row (vc/vq/bucket exprs are null there → sums skip it, as the
    # per-row forms did).
    qh0 = l.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("qn")
    )
    vc = F.round(F.col("l_quantity") * 100).cast("long")
    vq = F.round(F.col("l_quantity") * F.col("l_quantity") * 10000).cast("long")
    s1 = (F.sum(vc * F.col("qn")) / F.lit(100.0)).cast("double")
    s2 = (F.sum(vq * F.col("qn")) / F.lit(10000.0)).cast("double")
    n = F.sum("qn")

    def hbucket(i: int):
        return (
            F.sum(
                F.when(F.floor((F.col("l_quantity") - 1) / 5) == i, F.col("qn"))
                .otherwise(0)
            )
            .cast("bigint")
            .alias(f"h{i}")
        )

    main = qh0.groupBy("l_returnflag").agg(
        n.alias("n"),
        F.min("l_quantity").cast("double").alias("min_qty"),
        F.max("l_quantity").cast("double").alias("max_qty"),
        (s1 / n).alias("avg_qty"),
        ((s2 - s1 * s1 / n) / (n - F.lit(1.0))).alias("var_qty"),
        F.sum(F.when(F.col("l_quantity").isNull(), F.col("qn")).otherwise(0))
        .cast("bigint")
        .alias("n_null_qty"),
        # A5/A9 depth: equi-width histogram of quantity (10 buckets of
        # width 5 over [1, 50]) — the portable form width_bucket lacks in
        # DuckDB, now weighted-histogram sums instead of per-row sums
        *[hbucket(i) for i in range(10)],
    )

    # Sketch tier (r9 re-homed): percentile_approx keeps its own
    # ObjectHashAggregate scan (a rank sketch is multiplicity-SENSITIVE, so
    # it cannot ride the weighted histogram), but both HLLs moved off this
    # scan onto the distinct frames that already exist — HLL registers are
    # max-of-hash-ranks, multiplicity-INVARIANT, so the sketch over pkc's
    # (flag, partkey) pairs / the orderkey-distinct frame is bit-identical
    # to the raw-row sketch at a fraction of the update volume.
    # percentile_approx accuracy is sized to the bound the output actually
    # asserts (±1 quantity unit): a unit spans ~2% of the rank space over
    # the ~50 uniform unit values, and accuracy=1000 bounds rank error at
    # 0.1% — 20× inside the check, at half the update cost of the 10000
    # default (measured 5.65 → 2.68 s at 100×). Still deterministic for
    # fixed input, so *_ok stays hash-checked.
    sketches = l.groupBy("l_returnflag").agg(
        F.percentile_approx("l_quantity", 0.9, 1000).alias("_p90a"),
    )

    # Exact percentiles from a value HISTOGRAM, not F.percentile (r7): exact
    # percentile is a per-group all-values sort — its partial buffers carry
    # every row and the merge shuffles ALL 60M quantities into 3 reducer
    # groups (the one remaining unbounded-state aggregate in this query; at
    # 100 TB it is a straight OOM). l_quantity has ~50 distinct unit-grained
    # values, so the exact interpolated percentile is a function of the
    # (returnflag, quantity) weighted histogram: ~150 rows after map-side
    # combine, a near-empty shuffle. The interpolation reproduces Spark's
    # Percentile (and the oracle's quantile_cont, already 6-digit-round
    # compatible) BIT-identically: pos = p*(n-1) (double), frac = pos -
    # floor(pos) is exact (Sterbenz), v_hi - v_lo is an exact small-integer
    # double, and the final v_lo + (v_hi - v_lo)*frac is the same IEEE op
    # order Percentile.getPercentile evaluates. Nulls excluded from n, as
    # F.percentile does.
    qh = (
        qh0.filter(F.col("l_quantity").isNotNull())
        .select(
            "l_returnflag", F.col("l_quantity").cast("double").alias("v"), "qn"
        )
        .withColumn(
            "cum",
            F.sum("qn").over(
                W.partitionBy("l_returnflag")
                .orderBy("v")
                .rowsBetween(W.unboundedPreceding, 0)
            ),
        )
        .withColumn("nt", F.sum("qn").over(W.partitionBy("l_returnflag")))
        .withColumn("cumprev", F.col("cum") - F.col("qn"))
    )

    def _pct_cols(p: float, alias: str):
        pos = F.lit(p) * (F.col("nt") - 1).cast("double")
        lo, hi = F.floor(pos), F.ceil(pos)
        at = lambda idx: F.max(
            F.when((F.col("cumprev") <= idx) & (idx < F.col("cum")), F.col("v"))
        )
        return [
            at(lo).alias(f"_{alias}_vlo"),
            at(hi).alias(f"_{alias}_vhi"),
            F.first(pos - lo.cast("double")).alias(f"_{alias}_frac"),
        ]

    def _pct_val(alias: str):
        vlo, vhi, frac = (
            F.col(f"_{alias}_vlo"),
            F.col(f"_{alias}_vhi"),
            F.col(f"_{alias}_frac"),
        )
        return F.round(vlo + (vhi - vlo) * frac, 6)

    pcts = qh.groupBy("l_returnflag").agg(
        *_pct_cols(0.5, "median_qty"), *_pct_cols(0.9, "p90_qty")
    )

    # Exact n_orders AND its HLL check value from ONE distinct frame (r9):
    # the HLL over the distinct (flag, orderkey) pairs is register-identical
    # to the raw-row HLL (multiplicity-invariant), so the old separate
    # sketch scan's _ao folds into the scan the exact count already pays.
    orders_tier = (
        l.select("l_returnflag", "l_orderkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("_n_orders"),
            F.approx_count_distinct("l_orderkey", 0.02).alias("_ao"),
        )
    )

    def within(approx, exact, tol: float = 0.10):
        return F.abs(approx.cast("double") - exact.cast("double")) <= (
            tol * exact.cast("double")
        )

    # Count-min sketch tier (operators/sketch.py): per-returnflag 4×256
    # sketches built in one map-side-combined agg (the shuffle moves
    # ≤ 3·4·256 rows no matter the corpus size), probed for each group's
    # most frequent partkey. The md5-bucket hashes make the approximate
    # estimate bit-deterministic, so it hash-checks against the oracle —
    # the same exactly-checkable-approximation trick as the IVF/LSH/PQ
    # tiers. est ≥ exact always (CMS overestimates only).
    from minarrow_spark.operators.sketch import cms_build, cms_estimate

    # ONE (returnflag, partkey) aggregation feeds every partkey tier (r6):
    # top-1 heavy hitter, exact n_parts (count of pairs — replaces
    # a separate scan + two-level distinct), and the CMS (built from the
    # weighted pairs: cell sums are bit-identical to counting raw rows,
    # with one md5 per DISTINCT pair instead of per input row — ~30× less
    # hashing at the 100× point). The consumers share pkc's scan +
    # shuffle through runtime exchange reuse (no checkpoint — no job
    # boundary, no 2M-row materialization). Measured at 10×: 5.98 s (old
    # shape: separate partkey-distinct scan + raw-row CMS) → 3.50 s.
    pkc = l.groupBy("l_returnflag", "l_partkey").agg(F.count(F.lit(1)).alias("pc"))
    # n_parts, the partkey HLL (multiplicity-invariant — same registers as
    # the raw-row sketch), AND the top-1 heavy hitter ride ONE agg over
    # pkc's reused exchange (r9). top-1 as max-of-struct, not row_number:
    # the window form sorts the 2M pair rows inside THREE flag partitions —
    # three tasks, zero parallelism at 100× (attributed 4.6 s for the pkc
    # tier, ~3 s of it above the 1.66 s pkc agg itself) — while max(struct)
    # is a declarative map-side-combined agg. Tie-break parity with the old
    # (pc DESC, partkey ASC) window: max pc, then max(-partkey) = min
    # partkey — exact.
    part_stats = (
        pkc.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.approx_count_distinct("l_partkey", 0.02).alias("_ap"),
            F.max(
                F.struct(F.col("pc"), (-F.col("l_partkey")).alias("_np"))
            ).alias("_top"),
        )
        .select(
            "l_returnflag",
            "n_parts",
            "_ap",
            (-F.col("_top._np")).alias("top_part"),
            F.col("_top.pc").cast("bigint").alias("top_part_n"),
        )
    )
    sketch = cms_build(pkc, "l_partkey", ["l_returnflag"], weight_col="pc")
    est = cms_estimate(
        sketch,
        part_stats.select("l_returnflag", F.col("top_part").alias("l_partkey")),
        "l_partkey",
        ["l_returnflag"],
    ).select(
        "l_returnflag",
        F.col("l_partkey").alias("top_part"),
        F.col("cms_est").alias("top_part_cms"),
    )

    joined = (
        main.join(sketches, "l_returnflag")
        .join(part_stats, "l_returnflag")
        .join(orders_tier, "l_returnflag")
        # LEFT join: pcts is built only from non-null quantities, so a group
        # whose quantities are ALL null would otherwise vanish from the
        # output entirely — F.percentile (and the oracle's quantile_cont)
        # keep the group row with null percentiles, and null _vlo/_vhi/_frac
        # propagate to a null _pct_val consistently on both sides.
        .join(F.broadcast(pcts), "l_returnflag", "left")
        .join(F.broadcast(est), ["l_returnflag", "top_part"])
    )
    p90 = _pct_val("p90_qty")
    return joined.select(
        "l_returnflag",
        "n",
        "min_qty",
        "max_qty",
        "avg_qty",
        "var_qty",
        "n_parts",
        "n_null_qty",
        _pct_val("median_qty").alias("median_qty"),
        p90.alias("p90_qty"),
        within(F.col("_ap"), F.col("n_parts")).alias("approx_parts_ok"),
        within(F.col("_ao"), F.col("_n_orders")).alias("approx_orders_ok"),
        # quantity is unit-grained, so the t-digest-style sketch (the 100 TB
        # path) must land within one unit of the exact-sort percentile
        (F.abs(F.col("_p90a").cast("double") - p90) <= 1.0).alias(
            "approx_p90_ok"
        ),
        "top_part",
        "top_part_n",
        "top_part_cms",
        *[f"h{i}" for i in range(10)],
    )


@query(
    "q25_minmax_strings",
    oracle="""
    WITH dict AS (
      SELECT value, CAST(dense_rank() OVER (ORDER BY value) - 1 AS INT) AS code
      FROM (SELECT DISTINCT p_type AS value FROM part)
    ),
    agg AS (
      SELECT p_brand,
             min(p_name) AS first_name,
             max(p_name) AS last_name,
             min(p_type) AS first_type,
             CAST(COUNT(DISTINCT p_type) AS BIGINT) AS n_types,
             string_agg(DISTINCT p_type, '|' ORDER BY p_type) AS types_joined
      FROM part
      GROUP BY p_brand
    )
    SELECT a.*, d.code AS first_type_code
    FROM agg a JOIN dict d ON d.value = a.first_type
    """,
    tags=("A1", "A2", "A3", "T13", "T17"),
)
def q25_minmax_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max over strings and categoricals (reference `min_string_array`
    `string.rs:941` / categorical `string.rs:999` — one StringType path here).

    `first_type_code` is the dictionary-code tier (T17 — reference
    StringArray→CategoricalArray interning, `variants/string.rs:439` /
    `categorical.rs:103`): p_type dictionary-encoded to dense 0-based codes
    (operators/categorical.py — sorted-order contract, two-phase global
    ranks, broadcast attach) and carried through the aggregate with min_by,
    oracle-replayed as `dense_rank() over (order by value) − 1`."""
    p = T(spark, sf_dir, "part")
    from minarrow_spark.operators.categorical import dictionary_encode

    enc, _dic = dictionary_encode(p, "p_type")
    return enc.groupBy("p_brand").agg(
        F.min("p_name").alias("first_name"),
        F.max("p_name").alias("last_name"),
        F.min("p_type").alias("first_type"),
        F.countDistinct("p_type").alias("n_types"),
        # T13 join-to-delimited-string (`string.rs:1889`): sort for determinism
        F.concat_ws("|", F.array_sort(F.collect_set("p_type"))).alias("types_joined"),
        F.min_by("p_type_code", "p_type").alias("first_type_code"),
    )


# (q26_approx_distinct was folded into q24_agg_stats as the hash-checked
# `approx_*_ok` error-bound columns — A4 now has a hard driver signal.)


@query(
    "q27_table_broadcast_op",
    oracle="""
    SELECT CAST(SUM(CAST(l_quantity + 5.0 AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice + 5.0 AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           CAST(SUM(CAST(l_discount + 5.0 AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc,
           CAST(SUM(CAST(l_tax + 5.0 AS DECIMAL(18,2))) AS DOUBLE) AS sum_tax,
           CAST(SUM(CAST(l_orderkey + 5.0 AS DECIMAL(18,2))) AS DOUBLE) AS sum_okey,
           CAST(SUM(CAST(l_linenumber + 5.0 AS DECIMAL(18,2))) AS DOUBLE) AS sum_line
    FROM lineitem
    """,
    tags=("M6", "M7"),
)
def q27_table_broadcast_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-level broadcasting (reference M7, `broadcast_value`
    `src/kernels/broadcast/mod.rs:116-152`): scalar+table applied to every
    numeric column via `table_op`, then checksummed per column."""
    l = T(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_orderkey", "l_linenumber",
    )
    shifted = table_op(l, 5.0, "+")
    # Bounded-magnitude sums as longs, not decimals (r8, the q04/q24
    # pattern — this was the last full-width decimal reduce in the scalar
    # family, visibly above its peers at 100×): the 2-decimal measures sum
    # as cents (sums ≤ ~6e14 at 100× < 2^53, so s/100.0 is the same single
    # rounding as the oracle's decimal→double cast — see q24's bound note),
    # and the INTEGRAL columns sum as plain longs (their cents sums would
    # cross 2^53 at the 100× replica shift; the unscaled integer sum is
    # exact on both sides and rounds once at the final double cast). +5.0
    # stays exact in both paths: 2-decimal stays 2-decimal, integer stays
    # integer. At true 100 TB row counts salt to long partials first (the
    # q01 pattern) before any per-group cents sum nears 2^53.
    cents = lambda c: F.round(F.col(c) * 100).cast("long")
    return shifted.agg(
        (F.sum(cents("l_quantity")) / 100.0).cast("double").alias("sum_qty"),
        (F.sum(cents("l_extendedprice")) / 100.0).cast("double").alias("sum_price"),
        (F.sum(cents("l_discount")) / 100.0).cast("double").alias("sum_disc"),
        (F.sum(cents("l_tax")) / 100.0).cast("double").alias("sum_tax"),
        F.sum(F.col("l_orderkey").cast("long")).cast("double").alias("sum_okey"),
        F.sum(F.col("l_linenumber").cast("long")).cast("double").alias("sum_line"),
    )


# --------------------------------------------------------------------------
# q52 — distributed linear algebra suite: covariance matrix + k-means
# --------------------------------------------------------------------------

_MAT_COLS = ["l_quantity", "l_extendedprice", "l_discount"]
_KM_K, _KM_ITERS, _KM_DIM = 4, 2, 64
_KM_SCALE = 1_000_000_000  # must match operators/clustering._MEAN_SCALE
_PCA_D, _PCA_ITERS, _PCA_SCALE = 8, 24, 1_000_000  # match operators/pca exact tier


def _km_d2(emb: str, cent: str) -> str:
    """Strict left-fold squared-L2 — DuckDB's list_reduce is the only list
    aggregate that matches Spark's F.aggregate fold bit-for-bit (list_sum
    uses compensated summation and diverges in the last ulp)."""
    term = (
        f"({emb}[CAST(i AS INT)] - {cent}[CAST(i AS INT)])"
        f" * ({emb}[CAST(i AS INT)] - {cent}[CAST(i AS INT)])"
    )
    return (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, {_KM_DIM + 1}), "
        f"i -> {term})), (acc, x) -> acc + x)"
    )


def _km_oracle_ctes() -> str:
    """Generate the full {_KM_ITERS}-iteration Lloyd's pipeline as DuckDB
    CTEs: seed → (assign → update)×iters → final assign → stats. Mirrors
    operators/clustering.py step for step (same seed order, same strict
    fold, same tie-breaks, same scaled-long mean arithmetic)."""
    k, iters = _KM_K, _KM_ITERS
    ctes = [
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)",
        f"cent0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c, "
        f"emb AS cent FROM v ORDER BY vec_id LIMIT {k})",
    ]
    for t in range(iters):
        d2 = _km_d2("v.emb", "s.cent")
        ctes.append(
            f"d{t} AS (SELECT v.vec_id, v.emb, s.c, {d2} AS d2 "
            f"FROM v CROSS JOIN cent{t} s)"
        )
        ctes.append(
            f"a{t} AS (SELECT vec_id, emb, c FROM ("
            f"SELECT vec_id, emb, c, ROW_NUMBER() OVER "
            f"(PARTITION BY vec_id ORDER BY d2, c) AS r FROM d{t}) WHERE r = 1)"
        )
        ctes.append(
            f"m{t} AS (SELECT c, CAST(i AS INT) AS dim, "
            f"(CAST(SUM(CAST(round(emb[CAST(i AS INT) + 1] * {_KM_SCALE}) "
            f"AS BIGINT)) AS DOUBLE) / COUNT(*)) / {float(_KM_SCALE)} AS m "
            f"FROM a{t}, range(0, {_KM_DIM}) t(i) GROUP BY c, CAST(i AS INT))"
        )
        ctes.append(
            f"cm{t} AS (SELECT c, list(m ORDER BY dim) AS cent FROM m{t} "
            f"GROUP BY c)"
        )
        ctes.append(
            f"cent{t + 1} AS (SELECT p.c, COALESCE(cm.cent, p.cent) AS cent "
            f"FROM cent{t} p LEFT JOIN cm{t} cm USING (c))"
        )
    d2f = _km_d2("v.emb", "s.cent")
    ctes.append(
        f"df AS (SELECT v.vec_id, s.c, {d2f} AS d2 FROM v CROSS JOIN cent{iters} s)"
    )
    ctes.append(
        "af AS (SELECT vec_id, c, d2 FROM (SELECT vec_id, c, d2, "
        "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c) AS r FROM df) "
        "WHERE r = 1)"
    )
    ctes.append(
        "kstats AS (SELECT c, CAST(COUNT(*) AS DOUBLE) AS n, "
        "CAST(SUM(CAST(round(d2, 6) AS DECIMAL(28,6))) AS DOUBLE) AS inertia "
        "FROM af GROUP BY c)"
    )
    return ", ".join(ctes)


def _km_oracle_rows() -> str:
    return f"""
    SELECT 'kmeans' AS tier, 'c' || CAST(c AS VARCHAR) AS var_a,
           'n' AS var_b, n AS cov FROM kstats
    UNION ALL
    SELECT 'kmeans', 'c' || CAST(c AS VARCHAR), 'inertia', inertia FROM kstats
    UNION ALL
    SELECT 'kmeans', 'c' || CAST(c AS VARCHAR),
           'dim_' || lpad(CAST(i AS VARCHAR), 2, '0'),
           cent[CAST(i AS INT) + 1]
    FROM cent{_KM_ITERS}, range(0, {_KM_DIM}) t(i)
    """


def _pca_iter_ctes(cov: str, cpre: str, pre: str, d: int, iters: int) -> str:
    """Unrolled power iteration over the d×d covariance CTE ``cov`` (columns
    ``{cpre}_j_i``): ``iters`` steps of w = C·v, v = w/‖w‖, then Rayleigh
    λ = vᵀCv — every expression a strict left-to-right chain, mirroring
    operators/pca.power_iteration term for term so the doubles are
    bit-identical."""
    import math as _m

    v0 = repr(1.0 / _m.sqrt(float(d)))
    ctes = [
        f"{pre}it0 AS MATERIALIZED (SELECT "
        + ", ".join(f"CAST({v0} AS DOUBLE) AS v_{j}" for j in range(d))
        + ")"
    ]
    for t in range(iters):
        ws = ", ".join(
            " + ".join(f"{cpre}_{j}_{i} * v_{i}" for i in range(d)) + f" AS w_{j}"
            for j in range(d)
        )
        ctes.append(f"{pre}w{t} AS MATERIALIZED (SELECT {ws} FROM {cov}, {pre}it{t})")
        sq = " + ".join(f"w_{j} * w_{j}" for j in range(d))
        ctes.append(
            f"{pre}n{t} AS MATERIALIZED (SELECT sqrt({sq}) AS nrm, "
            + ", ".join(f"w_{j}" for j in range(d))
            + f" FROM {pre}w{t})"
        )
        ctes.append(
            f"{pre}it{t + 1} AS MATERIALIZED (SELECT "
            + ", ".join(f"w_{j} / nrm AS v_{j}" for j in range(d))
            + f" FROM {pre}n{t})"
        )
    us = ", ".join(
        " + ".join(f"{cpre}_{j}_{i} * v_{i}" for i in range(d)) + f" AS u_{j}"
        for j in range(d)
    )
    ctes.append(f"{pre}u AS MATERIALIZED (SELECT {us} FROM {cov}, {pre}it{iters})")
    lam = " + ".join(f"v_{j} * u_{j}" for j in range(d))
    ctes.append(f"{pre}lam AS MATERIALIZED (SELECT {lam} AS lam FROM {pre}u, {pre}it{iters})")
    return ", ".join(ctes)


def _pca_oracle_ctes() -> str:
    """The q52 'pca' tier replayed in DuckDB: exact scaled-long gramian over
    the first {_PCA_D} embedding dims (sums < 2⁵³ ⇒ BIGINT→DOUBLE casts are
    exact), fixed-order covariance, {_PCA_ITERS}-step power iteration, Hotelling
    deflation for PC2, and 6-digit-rounded exact-decimal projection sums.
    Reuses the k-means ``v`` CTE (embeddings as DOUBLE[])."""
    d, iters, sc = _PCA_D, _PCA_ITERS, _PCA_SCALE
    cols = [f"CAST(COUNT(*) AS DOUBLE) AS n"]
    for i in range(d):
        cols.append(
            f"CAST(CAST(SUM(CAST(round(emb[{i + 1}] * {sc}) AS BIGINT)) "
            f"AS BIGINT) AS DOUBLE) AS s_{i}"
        )
    for i in range(d):
        for j in range(i, d):
            cols.append(
                f"CAST(CAST(SUM(CAST(round(emb[{i + 1}] * {sc}) AS BIGINT) * "
                f"CAST(round(emb[{j + 1}] * {sc}) AS BIGINT)) AS BIGINT) AS DOUBLE)"
                f" AS p_{i}_{j}"
            )
    ctes = ["pg AS MATERIALIZED (SELECT " + ", ".join(cols) + " FROM v)"]
    cexprs = []
    for jj in range(d):
        for ii in range(d):
            p = f"p_{jj}_{ii}" if ii >= jj else f"p_{ii}_{jj}"
            cexprs.append(
                f"({p} / n - (s_{jj} / n) * (s_{ii} / n)) / 1e12 AS c_{jj}_{ii}"
            )
    ctes.append("pcv AS MATERIALIZED (SELECT " + ", ".join(cexprs) + " FROM pg)")
    ctes.append(_pca_iter_ctes("pcv", "c", "p1", d, iters))
    dexprs = [
        f"c_{jj}_{ii} - (lam * v_{jj}) * v_{ii} AS e_{jj}_{ii}"
        for jj in range(d)
        for ii in range(d)
    ]
    ctes.append(
        "pcw AS MATERIALIZED (SELECT "
        + ", ".join(dexprs)
        + f" FROM pcv, p1it{iters}, p1lam)"
    )
    ctes.append(_pca_iter_ctes("pcw", "e", "p2", d, iters))
    for c in (1, 2):
        proj = " + ".join(f"v.emb[{i + 1}] * t.v_{i}" for i in range(d))
        ctes.append(
            f"pj{c} AS MATERIALIZED (SELECT CAST(SUM(CAST(round({proj}, 6) "
            f"AS DECIMAL(18,6))) AS DOUBLE) AS ps FROM v, p{c}it{iters} t)"
        )
    return ", ".join(ctes)


def _pca_oracle_rows() -> str:
    parts = []
    for c in (1, 2):
        for j in range(_PCA_D):
            parts.append(
                f"SELECT 'pca' AS tier, 'pc{c}' AS var_a, 'dim_0{j}' AS var_b, "
                f"v_{j} AS cov FROM p{c}it{_PCA_ITERS}"
            )
        parts.append(f"SELECT 'pca', 'pc{c}', 'lambda', lam FROM p{c}lam")
        parts.append(f"SELECT 'pca', 'pc{c}', 'proj_sum', ps FROM pj{c}")
    return " UNION ALL ".join(parts)


def _trend_oracle_ctes() -> str:
    """q52 'trend' tier: per-returnflag OLS of line revenue (whole dollars)
    against ship-day — slope/intercept/r² from EXACT integer moments, the
    distributed-regression pattern (one map-side-combined aggregate; the
    closed-form solve is per-group scalar double math both engines share).
    All moments stay < 2⁵³ at driver scale, so BIGINT→DOUBLE casts are
    exact (same bound discipline as the pca tier)."""
    x = "date_diff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE))"
    y = "CAST(round(l_extendedprice) AS BIGINT)"
    return f"""
    tg AS MATERIALIZED (
      SELECT l_returnflag AS rf,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(CAST({x} AS BIGINT)) AS BIGINT) AS DOUBLE) AS sx,
             CAST(CAST(SUM({y}) AS BIGINT) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST({x} AS BIGINT) * {y}) AS BIGINT) AS DOUBLE) AS sxy,
             CAST(CAST(SUM(CAST({x} AS BIGINT) * CAST({x} AS BIGINT)) AS BIGINT)
                  AS DOUBLE) AS sxx,
             CAST(CAST(SUM({y} * {y}) AS BIGINT) AS DOUBLE) AS syy
      FROM lineitem GROUP BY 1
    ),
    tsol AS MATERIALIZED (
      SELECT rf,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
             n, sx, sy, sxy, sxx, syy
      FROM tg
    )
    """


def _trend_oracle_rows() -> str:
    return """
    SELECT 'trend' AS tier, 'rf_' || rf AS var_a, 'slope' AS var_b,
           slope AS cov FROM tsol
    UNION ALL
    SELECT 'trend', 'rf_' || rf, 'intercept', sy / n - slope * (sx / n) FROM tsol
    UNION ALL
    SELECT 'trend', 'rf_' || rf, 'r2',
           ((n * sxy - sx * sy) * (n * sxy - sx * sy))
           / ((n * sxx - sx * sx) * (n * syy - sy * sy))
    FROM tsol
    """


def _cov_oracle() -> str:
    sums = ["CAST(COUNT(*) AS DOUBLE) AS n"]
    for c in _MAT_COLS:
        sums.append(f"CAST(SUM(CAST({c} AS DECIMAL(18,2))) AS DOUBLE) AS s_{c}")
    for i, a in enumerate(_MAT_COLS):
        for b in _MAT_COLS[i:]:
            sums.append(
                f"CAST(SUM(CAST({a} AS DECIMAL(18,2)) * CAST({b} AS DECIMAL(18,2)))"
                f" AS DOUBLE) AS p_{a}_{b}"
            )
    rows = []
    for i, a in enumerate(_MAT_COLS):
        for j, b in enumerate(_MAT_COLS):
            p = f"p_{a}_{b}" if j >= i else f"p_{b}_{a}"
            rows.append(
                f"SELECT 'cov' AS tier, '{a}' AS var_a, '{b}' AS var_b, "
                f"({p} - s_{a} * s_{b} / n) / n AS cov FROM g"
            )
    return (
        "WITH g AS (SELECT " + ", ".join(sums) + " FROM lineitem), "
        + _km_oracle_ctes()
        + ", "
        + _pca_oracle_ctes()
        + ", "
        + _trend_oracle_ctes()
        + " "
        + " UNION ALL ".join(rows)
        + " UNION ALL "
        + _km_oracle_rows()
        + " UNION ALL "
        + _pca_oracle_rows()
        + " UNION ALL "
        + _trend_oracle_rows()
    )


@query("q52_cov_matrix", oracle=_cov_oracle(), tags=("matrix", "clustering", "pca", "trend"))
def q52_cov_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed linear-algebra suite, two tiers:

    * tier 'cov' — population covariance matrix of three lineitem measures
      in long form — the reference's dense `Matrix` + Table↔Matrix cast
      story (`src/structs/matrix.rs:74,410-827`) re-expressed as ONE scan +
      ONE single-row reduce producing all n² cells (partial aggregation
      map-side; exact decimal sums → order-independent).
    * tier 'kmeans' — fixed-iteration Lloyd's over the embeddings table
      (operators/clustering.py: k=4, 2 iterations, deterministic lowest-id
      seeds, zero-shuffle literal-centroid assignment, scaled-long exact
      centroid means). The DuckDB twin replays the ENTIRE iterative
      pipeline in SQL (generated CTEs: seed → assign → update ×2 → final
      assign), so the driver hash checks every centroid component
      (k×dim rows, bit-exact: DuckDB's list_reduce fold reproduces Spark's
      F.aggregate fold, and the scaled-long mean arithmetic is plain IEEE
      ops both engines share), plus per-cluster sizes and 6-digit-rounded
      exact-decimal inertia. The k-means collects are k×dim MODEL STATE
      per iteration — the sanctioned exception to the no-collect rule.
    * tier 'pca' — exact-gramian PCA over the first 8 embedding dims
      (operators/pca.py exact tier): components quantize to 6-decimal
      scaled longs, so every cross-moment is an exact integer sum
      (order-free, < 2⁵³ ⇒ BIGINT→DOUBLE is exact in both engines); the
      24-step power iteration + Hotelling deflation then run on the driver
      as model-state math in a fixed IEEE order that the DuckDB oracle
      unrolls CTE-for-CTE (AS MATERIALIZED — inlining the scalar chain is
      exponential), making even the eigenvector components bit-checkable.
      Projection sums re-enter the cluster as zero-shuffle literal-component
      dots, rounded per value and summed as exact decimal. At 100 TB the
      distributed cost is ONE scan emitting 45 integer partials.
    * tier 'trend' — distributed OLS regression per returnflag (revenue
      dollars vs ship-day): slope/intercept/r² solved closed-form from
      exact integer moments gathered in ONE map-side-combined aggregate —
      `regr_slope` built-ins sum raw doubles (order-sensitive); the exact
      moments make the fit deterministic AND cross-engine-checkable."""
    l = T(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for c in _MAT_COLS:
        aggs.append(F.sum(dec(c)).cast("double").alias(f"s_{c}"))
    for i, a in enumerate(_MAT_COLS):
        for b in _MAT_COLS[i:]:
            aggs.append(F.sum(dec(a) * dec(b)).cast("double").alias(f"p_{a}_{b}"))
    g = l.agg(*aggs)
    cells = []
    for i, a in enumerate(_MAT_COLS):
        for j, b in enumerate(_MAT_COLS):
            p = f"p_{a}_{b}" if j >= i else f"p_{b}_{a}"
            cells.append(
                F.struct(
                    F.lit(a).alias("var_a"),
                    F.lit(b).alias("var_b"),
                    ((F.col(p) - F.col(f"s_{a}") * F.col(f"s_{b}") / F.col("n"))
                     / F.col("n")).alias("cov"),
                )
            )
    cov = (
        g.select(F.explode(F.array(*cells)).alias("c"))
        .select("c.var_a", "c.var_b", "c.cov")
        .withColumn("tier", F.lit("cov"))
    )

    from minarrow_spark.operators.clustering import kmeans_fit

    e = T(spark, sf_dir, "embeddings")
    cents, assigned = kmeans_fit(e, k=_KM_K, iters=_KM_ITERS)
    kstats = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.round("dist2", 6).cast("decimal(28,6)"))
        .cast("double")
        .alias("inertia"),
    )
    ca = F.concat(F.lit("c"), F.col("cluster")).alias("var_a")
    kn = kstats.select(
        F.lit("kmeans").alias("tier"), ca, F.lit("n").alias("var_b"),
        F.col("n").alias("cov"),
    )
    ki = kstats.select(
        F.lit("kmeans").alias("tier"), ca, F.lit("inertia").alias("var_b"),
        F.col("inertia").alias("cov"),
    )
    kc = spark.createDataFrame(
        [
            ("kmeans", f"c{i}", f"dim_{d:02d}", float(cents[i][d]))
            for i in range(_KM_K)
            for d in range(_KM_DIM)
        ],
        ["tier", "var_a", "var_b", "cov"],
    )

    from minarrow_spark.operators.pca import (
        deflate,
        exact_cov,
        exact_gramian,
        pca_project,
        power_iteration,
    )

    # tier 'pca' — exact-gramian PCA over the first _PCA_D dims: the
    # distributed job is the scaled-long moment aggregation (model-state
    # collect); power iteration + deflation run driver-side on the exact
    # covariance with a fixed IEEE evaluation order that the DuckDB twin
    # (_pca_oracle_ctes) unrolls bit-for-bit. The projection sums re-enter
    # the cluster: per-row zero-shuffle dots with the literal components,
    # rounded per value and summed as exact decimal.
    pmat, psum, pn = exact_gramian(e, dims=_PCA_D, scale=_PCA_SCALE)
    pcov = exact_cov(pmat, psum, pn, _PCA_SCALE)
    v1, l1 = power_iteration(pcov, iters=_PCA_ITERS)
    v2, l2 = power_iteration(deflate(pcov, v1, l1), iters=_PCA_ITERS)
    prows = [
        ("pca", f"pc{c}", f"dim_{j:02d}", vec[j])
        for c, vec in ((1, v1), (2, v2))
        for j in range(_PCA_D)
    ] + [("pca", "pc1", "lambda", l1), ("pca", "pc2", "lambda", l2)]
    pc = spark.createDataFrame(prows, ["tier", "var_a", "var_b", "cov"])
    sub = e.select(F.slice(F.col("embedding").cast("array<double>"), 1, _PCA_D).alias("sub"))
    pj = pca_project(pca_project(sub, [v1], "sub", "j1"), [v2], "sub", "j2").agg(
        F.sum(F.round(F.element_at("j1", 1), 6).cast("decimal(18,6)"))
        .cast("double")
        .alias("ps1"),
        F.sum(F.round(F.element_at("j2", 1), 6).cast("decimal(18,6)"))
        .cast("double")
        .alias("ps2"),
    )
    pjr = pj.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("pca").alias("tier"),
                    F.lit("pc1").alias("var_a"),
                    F.lit("proj_sum").alias("var_b"),
                    F.col("ps1").alias("cov"),
                ),
                F.struct(
                    F.lit("pca").alias("tier"),
                    F.lit("pc2").alias("var_a"),
                    F.lit("proj_sum").alias("var_b"),
                    F.col("ps2").alias("cov"),
                ),
            )
        ).alias("r")
    ).select("r.tier", "r.var_a", "r.var_b", "r.cov")

    # tier 'trend' — distributed OLS per returnflag (operator pattern:
    # exact integer moments via ONE map-side-combined aggregate; the
    # closed-form slope/intercept/r² solve is per-group scalar double
    # math both engines share — see _trend_oracle_ctes for the bound
    # discipline). Whole-dollar y keeps Σy² < 2⁵³ at driver scale.
    xd = F.datediff(
        F.to_date("l_shipdate"), F.lit("1995-01-01").cast("date")
    ).cast("long")
    yd = F.round(F.col("l_extendedprice")).cast("long")
    tg = l.groupBy(F.col("l_returnflag").alias("rf")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(xd.cast("decimal(38,0)")).cast("long").cast("double").alias("sx"),
        F.sum(yd.cast("decimal(38,0)")).cast("long").cast("double").alias("sy"),
        F.sum((xd * yd).cast("decimal(38,0)")).cast("long").cast("double").alias("sxy"),
        F.sum((xd * xd).cast("decimal(38,0)")).cast("long").cast("double").alias("sxx"),
        F.sum((yd * yd).cast("decimal(38,0)")).cast("long").cast("double").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num / den
    tsol = tg.select(
        F.concat(F.lit("rf_"), F.col("rf")).alias("var_a"),
        slope.alias("slope"),
        (F.col("sy") / F.col("n") - slope * (F.col("sx") / F.col("n"))).alias(
            "intercept"
        ),
        (
            (num * num)
            / (den * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")))
        ).alias("r2"),
    )
    tr = tsol.select(
        F.lit("trend").alias("tier"),
        "var_a",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(m).alias("var_b"), F.col(m).alias("cov"))
                    for m in ("slope", "intercept", "r2")
                ]
            )
        ).alias("m"),
    ).select("tier", "var_a", "m.var_b", "m.cov")

    pick = lambda df: df.select("tier", "var_a", "var_b", "cov")
    return (
        pick(cov)
        .unionByName(pick(kn))
        .unionByName(pick(ki))
        .unionByName(pick(kc))
        .unionByName(pick(pc))
        .unionByName(pick(pjr))
        .unionByName(pick(tr))
    )


# --------------------------------------------------------------------------
# q53 — Arrow escape-hatch kernel (S2-S5, F4): mapInArrow over partitions
# --------------------------------------------------------------------------


@query(
    "q53_arrow_kernel",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
             AS net_c4,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("F4", "S2", "S5"),
    bench=True,  # tracks the Python/Arrow-boundary tier round-over-round
)
def q53_arrow_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized Arrow kernel via the engine's escape hatch (the reference's
    pyo3 pattern, `pyo3/src/lib.rs:86-94`): a RecordBatch→RecordBatch numpy
    kernel computes net revenue in exact integer 10^-4 units per row
    executor-side (`map_in_arrow` — no driver materialization, any partition
    count), then the aggregation happens back in Catalyst land. Integer math
    end-to-end → bit-exact vs the SQL oracle despite crossing the Python
    boundary."""
    import numpy as np
    import pyarrow as pa

    from minarrow_spark.sources.arrow_io import map_in_arrow

    l = T(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_discount"
    )

    def kernel(batch: pa.RecordBatch) -> pa.RecordBatch:
        # Partial-aggregate INSIDE the kernel — map-side combine across
        # the Python boundary: each 64k-row batch returns one row per
        # flag (~3), so the return stream is ~free where the r4 form
        # shipped all 60M flag strings back. Exactness unchanged: per-row
        # exact integer 10^-4 units, integer partial sums (≤6.5e13 per
        # batch, far inside int64), merged by Catalyst's final agg —
        # associative integer addition, deterministic under any batching.
        price_c = np.rint(batch.column("l_extendedprice").to_numpy() * 100).astype(
            np.int64
        )
        disc_pct = np.rint(batch.column("l_discount").to_numpy() * 100).astype(
            np.int64
        )
        net = price_c * (100 - disc_pct)
        flags, inv = np.unique(
            batch.column("l_returnflag").to_numpy(zero_copy_only=False),
            return_inverse=True,
        )
        sums = np.zeros(len(flags), dtype=np.int64)
        np.add.at(sums, inv, net)  # int64 throughout — exact at any batch size
        return pa.RecordBatch.from_arrays(
            [
                pa.array(flags.astype(object), type=pa.string()),
                pa.array(sums),
                pa.array(np.bincount(inv, minlength=len(flags)).astype(np.int64)),
            ],
            names=["l_returnflag", "pnet", "pn"],
        )

    mapped = map_in_arrow(l, kernel, "l_returnflag string, pnet long, pn long")
    return mapped.groupBy("l_returnflag").agg(
        F.sum("pnet").cast("bigint").alias("net_c4"),
        F.sum("pn").cast("bigint").alias("n"),
    )


# --------------------------------------------------------------------------
# q28 — boolean mask combinators + reductions (P7, P8, A8, U4)
# --------------------------------------------------------------------------


@query(
    "q28_bool_masks",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             l_quantity > 25 AS m1,
             l_discount > 0.05 AS m2,
             l_linestatus IN ('F') AS m_in
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN m1 AND m2 THEN 1 ELSE 0 END) AS BIGINT) AS n_and,
           CAST(SUM(CASE WHEN m1 OR m2 THEN 1 ELSE 0 END) AS BIGINT) AS n_or,
           CAST(SUM(CASE WHEN m1 <> m2 THEN 1 ELSE 0 END) AS BIGINT) AS n_xor,
           CAST(SUM(CASE WHEN NOT m1 THEN 1 ELSE 0 END) AS BIGINT) AS n_not,
           CAST(SUM(CASE WHEN m_in THEN 1 ELSE 0 END) AS BIGINT) AS n_in,
           CAST(SUM(CASE WHEN NOT m_in THEN 1 ELSE 0 END) AS BIGINT) AS n_not_in,
           bool_and(m1 OR m2 OR m_in OR TRUE) AS all_true,
           bool_or(m1 AND m2 AND FALSE) AS any_false_mask
    FROM m GROUP BY l_returnflag
    """,
    tags=("P7", "P8", "A8", "U4"),
)
def q28_bool_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean mask algebra (reference bitmask kernels
    `src/kernels/bitmask/std.rs:73-186`) and mask reductions
    popcount/all_true/all_false (`bitmask/std.rs:279-336`): And/Or/Xor/Not
    plus in/not_in membership masks, reduced per group. In Spark masks are
    BooleanType columns; popcount = conditional sum, all/any = bool_and/
    bool_or — all map-side combinable."""
    l = T(spark, sf_dir, "lineitem")
    m1 = F.col("l_quantity") > 25
    m2 = F.col("l_discount") > 0.05
    m_in = F.col("l_linestatus").isin("F")
    pop = lambda m, name: F.sum(F.when(m, 1).otherwise(0)).cast("bigint").alias(name)
    return l.groupBy("l_returnflag").agg(
        pop(m1 & m2, "n_and"),
        pop(m1 | m2, "n_or"),
        pop(m1 != m2, "n_xor"),
        pop(~m1, "n_not"),
        pop(m_in, "n_in"),
        pop(~m_in, "n_not_in"),
        F.bool_and(m1 | m2 | m_in | F.lit(True)).alias("all_true"),
        F.bool_or(m1 & m2 & F.lit(False)).alias("any_false_mask"),
    )


# --------------------------------------------------------------------------
# q29 — portable element hash / hash partitioning (O2)
# --------------------------------------------------------------------------


def _q29_oracle() -> str:
    from minarrow_spark.operators.sampling import hex_threshold
    from minarrow_spark.operators.zorder import z_value_sql

    h = "substr(md5('s|' || CAST(o_orderkey AS VARCHAR)), 1, 8)"
    hs = "substr(md5('split|' || CAST(o_orderkey AS VARCHAR)), 1, 8)"
    zed = z_value_sql("(o_custkey % 256)", "(o_orderkey % 256)")
    return f"""
    SELECT substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           CAST(SUM(CASE WHEN {h} < '{hex_threshold(0.1)}' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_s10,
           CAST(SUM(CASE WHEN {hs} < '{hex_threshold(0.2)}' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN {hs} >= '{hex_threshold(0.2)}'
                          AND {hs} < '{hex_threshold(0.3)}' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_val,
           CAST(SUM(CASE WHEN {hs} >= '{hex_threshold(0.3)}' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_train,
           CAST(MIN({zed}) AS BIGINT) AS z_min,
           CAST(MAX({zed}) AS BIGINT) AS z_max,
           CAST(SUM({zed}) AS BIGINT) AS z_sum
    FROM orders GROUP BY 1
    """


@query(
    "q29_hash_buckets",
    oracle=_q29_oracle(),
    tags=("O2", "sampling"),
)
def q29_hash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic element-hash partitioning (reference `hash_element_at`
    `array.rs:2419`): rows routed to 16 buckets by a portable hash (md5
    nibble — engine-native F.hash/xxhash64 serve the same role inside Spark
    but aren't cross-engine-comparable). Bucket histograms verify the
    distribution is stable and complete.

    Also exercises the deterministic hash-sampling operators
    (operators/sampling.py — the reproducible 100 TB alternative to per-row
    RNG `df.sample()`): per-bucket counts of a 10% key-hash sample and of
    the 20/10/70 train_test_split tiers, hash-checked against the oracle
    reproducing the identical md5-threshold math.

    The aggregation runs through `salted_agg` (operators/skew.py): 16
    groups over 150k+ rows is exactly the hot-key shape — stage 1 groups on
    (bucket, random salt) spreading each bucket across reducers, stage 2
    merges partials per bucket. Every measure is algebraic (counts and sums
    merge as sums), so the result is salt-independent — the plain GROUP BY
    oracle verifies the skew path end-to-end, upgrading the operator from
    unit-tested to driver-checked.

    Plus the Z-order layout key (operators/zorder.py): the Morton
    bit-interleave of (custkey, orderkey) folded to an 8-bit grid —
    min/max/sum per bucket hash-check the interleave arithmetic against
    the identical SQL expression (`z_value_sql`); the physical clustering
    win (range-partition by z → tight per-file 2-D bounding boxes →
    min/max file skipping on both dims) is asserted by the locality test
    in tests/test_scale_ops.py."""
    from minarrow_spark.operators.sampling import sample_mask, train_test_split
    from minarrow_spark.operators.skew import salted_agg
    from minarrow_spark.operators.zorder import z_value

    o = train_test_split(
        T(spark, sf_dir, "orders"), key="o_orderkey", test=0.2, val=0.1
    )
    pop = lambda m, name: F.sum(F.when(m, 1).otherwise(0)).alias(name)
    msum = lambda c, name: F.sum(c).cast("bigint").alias(name)
    b = o.withColumn(
        "bucket", F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1)
    ).withColumn(
        # Morton layout key (operators/zorder.py): min/max/sum per bucket
        # verify the bit-interleave arithmetic cross-engine; the physical
        # clustering itself (range-partition by z → per-file 2-D bounding
        # boxes) is pinned by tests/test_scale_ops.py locality assertions.
        "z",
        z_value(F.col("o_custkey") % 256, F.col("o_orderkey") % 256),
    )
    return salted_agg(
        b,
        keys=["bucket"],
        partial_aggs=[
            F.count(F.lit(1)).alias("c"),
            F.sum(dec("o_totalprice")).alias("t"),
            pop(sample_mask(F.col("o_orderkey"), 0.1, "s"), "s10"),
            pop(F.col("split") == "test", "tst"),
            pop(F.col("split") == "val", "val"),
            pop(F.col("split") == "train", "trn"),
            F.min("z").alias("zmn"),
            F.max("z").alias("zmx"),
            F.sum("z").alias("zsm"),
        ],
        merge_aggs=[
            msum("c", "n"),
            F.sum("t").cast("double").alias("total"),
            msum("s10", "n_s10"),
            msum("tst", "n_test"),
            msum("val", "n_val"),
            msum("trn", "n_train"),
            F.min("zmn").cast("bigint").alias("z_min"),
            F.max("zmx").cast("bigint").alias("z_max"),
            msum("zsm", "z_sum"),
        ],
    )


# --------------------------------------------------------------------------
# q54 — generic binary map via vectorized pandas UDF (F1, M8)
# --------------------------------------------------------------------------


@query(
    "q54_binary_map",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(l_orderkey * l_linenumber + l_linenumber AS BIGINT) AS mapped
    FROM lineitem WHERE l_orderkey <= 2000
    """,
    tags=("F1", "M8"),
)
def q54_binary_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic binary map with a user closure (reference `binary_map(f, a, b)`
    `routing/binary_map.rs:52`): an Arrow-vectorized pandas UDF — the slow
    path relative to codegen'd expressions, but batch-vectorized (never
    row-at-a-time Python). Integer math → exact cross-engine."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def fab(a: pd.Series, b: pd.Series) -> pd.Series:
        return a * b + b  # arbitrary user f; runs vectorized per Arrow batch

    l = T(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 2000)
    return l.select(
        "l_orderkey",
        "l_linenumber",
        fab(F.col("l_orderkey"), F.col("l_linenumber")).alias("mapped"),
    )


# --------------------------------------------------------------------------
# q55 — Python UDTF: one row in, N rows out (F5)
# --------------------------------------------------------------------------


@query(
    "q55_udtf_sentences",
    oracle="""
    WITH s AS (
      SELECT doc_id, unnest(string_split(text, '.')) AS frag FROM documents
    )
    SELECT doc_id, trim(frag) AS sentence,
           CAST(length(trim(frag)) AS BIGINT) AS n_chars
    FROM s WHERE trim(frag) <> ''
    """,
    tags=("F5",),
)
def q55_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4, SURVEY F5): sentence-split each document — one
    row in, N rows out, the table-function shape Catalyst can't express as a
    scalar UDF. Runs via LATERAL join so the UDTF executes per-partition
    (no shuffle added by the expansion itself)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sentence: string, n_chars: long")
    class SentenceSplit:
        def eval(self, text: str):
            if text is None:
                return
            for frag in text.split("."):
                frag = frag.strip()
                if frag:
                    yield frag, len(frag)

    spark.udtf.register("mq55_sentence_split", SentenceSplit)
    T(spark, sf_dir, "documents").createOrReplaceTempView("mq55_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.sentence, s.n_chars
        FROM mq55_docs d, LATERAL mq55_sentence_split(d.text) s
        """
    )
