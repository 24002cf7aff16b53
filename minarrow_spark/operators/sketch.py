"""Count-min sketch: fixed-size mergeable frequency summaries.

The 100 TB heavy-hitter problem: exact per-key counts of a high-cardinality
key (URLs, tokens, user ids) need a corpus-wide shuffle on that key; a
count-min sketch is a d×w counter matrix that partial-aggregates map-side
(every partition's sketch merges by cell-wise +), so the full pass costs
one shuffle of d·w rows regardless of key cardinality. Point estimates
overestimate only: est(k) = min_j counter[j][h_j(k)] ≥ true(k), and
est(k) ≤ true(k) + εN with ε = e/w at probability 1 − e^−d.

Hashes are md5-prefix buckets (the repo's portable-hash convention), so the
sketch — an *approximate* structure — is bit-deterministic for fixed input
and exactly reproducible in the DuckDB oracle (q24's tier): the same trick
that makes the IVF/LSH/PQ tiers hash-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# The sketch shape, fixed: cms_build, cms_estimate and the DuckDB twin
# cms_bucket_sql must agree on it. Depth ≤ 16 (one md5 has 16 byte
# windows); width 256 is one byte window's full range.
CMS_DEPTH = 4
CMS_WIDTH = 256


def cms_bucket(key: Column, j: int) -> Column:
    """Row-j bucket of ``key``: hex chars [2j+1, 2j+2] of md5("c|"+key) as
    an int — uniform over [0, 256). ONE digest serves every sketch row
    (the minhash one-md5-sliced-into-sub-hashes trick: md5 bytes behave
    pairwise-independently, which is all CMS's analysis needs), so depth
    costs zero extra hashing — the j-salted per-row form did `depth` md5s
    per input row and dominated q24's 100× profile."""
    if not 0 <= j < 16:
        raise ValueError("j must be in [0, 16) — one md5 has 16 byte windows")
    b = F.conv(
        F.substring(F.md5(F.concat(F.lit("c|"), key.cast("string"))), 2 * j + 1, 2),
        16,
        10,
    )
    return (b.cast("int") % CMS_WIDTH).alias(f"b{j}")


def cms_bucket_sql(key: str, j: int) -> str:
    """DuckDB twin of `cms_bucket` (nibble arithmetic — no conv())."""
    h = f"md5('c|' || CAST({key} AS VARCHAR))"
    nib = lambda i: f"(strpos('0123456789abcdef', substr({h}, {i}, 1)) - 1)"
    return f"(({nib(2 * j + 1)} * 16 + {nib(2 * j + 2)}) % {CMS_WIDTH})"


def _bucket_rows(df: DataFrame, key_col: str, keep: list) -> DataFrame:
    """``keep`` plus one (j, bucket) row per sketch row of ``key_col``: one
    explode over the CMS_DEPTH windows of a single digest."""
    k = F.col(key_col)
    rows = df.select(
        *keep,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("j"), cms_bucket(k, j).alias("bucket"))
                    for j in range(CMS_DEPTH)
                ]
            )
        ).alias("jb"),
    )
    kept = [c for c in rows.columns if c != "jb"]
    return rows.select(
        *kept, F.col("jb.j").alias("j"), F.col("jb.bucket").alias("bucket")
    )


def cms_build(
    df: DataFrame,
    key_col: str,
    group_cols: list[str] | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Build one sketch per ``group_cols`` combination (or one global):
    rows (*group_cols, j, bucket, c). One explode (×depth) + one
    map-side-combined agg; the shuffle moves ≤ groups·depth·width rows —
    constant in corpus size, the whole point.

    ``weight_col``: build from PRE-AGGREGATED (key, count) pairs instead
    of raw rows — cell values become Σ weight, bit-identical to counting
    the expanded rows (CMS cells are plain sums), while hashing each
    distinct key once instead of once per occurrence. The q24 r6 win:
    the sketch rides the (group, key) count table that the heavy-hitter
    tier aggregates anyway, ~30× less md5 at the 100× point."""
    gc = list(group_cols or [])
    w = F.col(weight_col) if weight_col else F.lit(1)
    rows = _bucket_rows(df, key_col, [*gc, w.alias("_w")])
    return rows.groupBy(*gc, "j", "bucket").agg(
        F.sum("_w").cast("bigint").alias("c")
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    group_cols: list[str] | None = None,
    out_col: str = "cms_est",
) -> DataFrame:
    """Point-estimate the frequency of each row of ``keys``: join each
    (key, j, bucket_j(key)) probe against the sketch and take min over j.
    ``keys`` is expected to be small (heavy-hitter candidates) — the probe
    table broadcasts; the sketch is groups·depth·width rows."""
    gc = list(group_cols or [])
    probes = _bucket_rows(keys, key_col, [*gc, key_col])
    return (
        sketch.join(F.broadcast(probes), [*gc, "j", "bucket"])
        .groupBy(*gc, key_col)
        .agg(F.min("c").cast("bigint").alias(out_col))
    )
