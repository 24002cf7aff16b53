"""Deterministic hash-based sampling and dataset splits for training-data
pipelines.

At 100 TB, `df.sample()` (per-row RNG) is the wrong tool for anything that
must be reproducible or joinable: reruns see different rows, and two tables
sampled "the same way" don't align. The standard fix is HASH sampling — a
row is kept iff a salted hash of its key falls below a threshold:

* deterministic: the same key always lands on the same side, on any run,
  any partition count, any engine;
* joinable: sampling two fact tables by the same key yields aligned
  samples (all lineitems of a sampled order survive together);
* streamable: a pure projection+filter — no shuffle, no state, applies
  identically in batch and Structured Streaming.

Portability: hashes are md5-hex and thresholds are hex-string prefixes —
`substr(md5(salt|key), 1, 8) < hex_threshold(p)` — so a DuckDB/any-engine
oracle reproduces the exact sample (lexicographic order on hex = numeric
order). Granularity is 16^-8 ≈ 2.3e-10 of the keyspace per threshold step.

Reference parity: the reference's sampling estimators
(`/root/reference/src/utils.rs:327,348`) draw simple random samples inside
one process; these operators are the distributed, reproducible counterpart
(beyond-reference extension ops, same family as dedup/similarity).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HEX_CHARS = 8  # 32-bit threshold space
_SPLIT_SALT = "split"


def hex_threshold(fraction: float) -> str:
    """Hex-string threshold t such that P(md5_prefix < t) == round
    (fraction × 16^_HEX_CHARS) / 16^_HEX_CHARS for a uniform hash.

    Comparisons are lexicographic on fixed-width hex, which equals numeric
    order ONLY at equal length — so fraction 1.0 (numerically 16^_HEX_CHARS,
    a longer string) maps to "g", which sorts after every hex digit and
    therefore keeps everything."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    steps = round(fraction * 16**_HEX_CHARS)
    if steps >= 16**_HEX_CHARS:
        return "g"
    return format(steps, f"0{_HEX_CHARS}x")


def hash_key(key: Column, salt: str = "") -> Column:
    """Salted uniform hash prefix of a key column (md5 hex, 8 chars).
    Different salts give independent samples over the same keys."""
    return F.substring(
        F.md5(F.concat(F.lit(f"{salt}|"), key.cast("string"))), 1, _HEX_CHARS
    )


def sample_mask(key: Column, fraction: float, salt: str = "") -> Column:
    """Boolean keep-mask: deterministic `fraction` sample by key."""
    return hash_key(key, salt) < F.lit(hex_threshold(fraction))


def train_test_split(df: DataFrame, key: str, test: float, val: float = 0.0) -> DataFrame:
    """Attach a deterministic 'split' column ('test' / 'val' / 'train') by
    key hash: disjoint, exhaustive, reproducible, and leak-proof — every
    row of a key lands in exactly one split on every engine and every run
    (the property per-row RNG splits silently violate)."""
    if test + val > 1.0:
        raise ValueError("test + val fractions exceed 1.0")
    h = hash_key(F.col(key), _SPLIT_SALT)
    return df.withColumn(
        "split",
        F.when(h < F.lit(hex_threshold(test)), F.lit("test"))
        .when(h < F.lit(hex_threshold(test + val)), F.lit("val"))
        .otherwise(F.lit("train")),
    )


def weighted_sample_topk(
    df: DataFrame,
    key: str,
    weight: Column | str,
    k: int,
    salt: str = "",
    digits: int = 6,
) -> DataFrame:
    """Deterministic weighted random sample WITHOUT replacement of size
    ``k`` — Efraimidis–Spirakis A-ES with the hash-uniform trick: each row
    draws u = uniform(key-hash) ∈ (0, 1] and scores priority
    ln(u) / w (the monotone form of u^(1/w)); the k HIGHEST priorities are
    an exact weighted sample (inclusion ∝ weight, heavier rows win their
    "coin flips" more often). The training-data use: sample documents
    proportional to quality/importance scores, reproducibly.

    Determinism: u is a pure function of (salt, key); ln rounds per value
    to ``digits`` (house transcendental contract) before ranking; ties
    break on key. Top-k plans as TakeOrderedAndProject — per-partition
    heads then a k-row merge, no global sort, no RNG state; the same
    expression replays in any SQL engine (cross-checked against DuckDB in
    tests/test_sampling.py).

    Weights must be strictly positive; null/non-positive weights raise at
    runtime via an ANSI-style filter contract (rows with w <= 0 are
    dropped before ranking, documented rather than silent: a zero-weight
    row can never be sampled under A-ES).
    """
    w = F.col(weight) if isinstance(weight, str) else weight
    u = (
        F.conv(hash_key(F.col(key), salt), 16, 10).cast("double") + 1.0
    ) / float(16**_HEX_CHARS)
    prio = F.round(F.log(u) / w, digits)
    return (
        df.filter(w > 0)
        .withColumn("__prio", prio)
        .orderBy(F.col("__prio").desc(), F.col(key))
        .limit(k)
        .drop("__prio")
    )
