"""Bloom-filter semi-join pre-filtering — prune a huge fact scan against a
compact membership sketch of the dim keys BEFORE any shuffle.

The 100 TB pattern: a semi/inner join against a selective dim shuffles the
whole fact side first. Building a Bloom filter of the dim keys (KBs–MBs
regardless of fact size) and filtering the fact scan with it drops
non-matching rows AT THE SCAN, so the shuffle carries only plausible
matches — Spark's own runtime row-group filtering, surfaced as an explicit,
deterministic operator (the built-in `bloom_filter_agg` expression is not
registered for SQL, and its hash is engine-private; this one is salted md5,
so any engine replays the exact bits).

Design: k hash positions per key from md5 slices; the filter is an array
of 64-bit words OR-combined (commutative, order-free → deterministic under
any partitioning). Build = one map-side-combined groupBy over n_words
rows; the collected words are MODEL STATE (n_bits/8 bytes). Probe = a pure
projection filter with the words as literals — zero shuffle, streamable.
Bloom guarantees: NO false negatives (the exact join after the pre-filter
returns precisely the true matches); false positives only cost wasted
shuffle rows (rate set by n_bits/n_keys and n_hashes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_HASHES = 4
# bloom_build_auto's sizing rule (see its docstring)
BITS_PER_KEY = 10
MIN_BITS = 1 << 14
MAX_BITS = 1 << 20
MAX_HIT_RATE = 0.3


def _positions(key: Column, n_hashes: int, n_bits: int) -> list[Column]:
    """k deterministic bit positions sliced from ⌈k/4⌉ md5 digests: digest
    j = md5("d{j}|" + key), and position i reads 8-hex-char window i%4 of
    digest i//4, mod n_bits. One digest serves four positions (md5 is 128
    bits; disjoint 32-bit windows are independent) — the q24 CMS lesson:
    the digest, not the slice, is the per-row cost, and 4× fewer digests
    measurably moves a 100×-scale build. Still engine-portable: any system
    with md5 + substr replays the exact bits (tests/test_bloom.py)."""
    digests = [
        F.md5(F.concat(F.lit(f"d{j}|"), key.cast("string")))
        for j in range((n_hashes + 3) // 4)
    ]
    return [
        (
            F.conv(
                F.substring(digests[i // 4], 1 + 8 * (i % 4), 8), 16, 10
            ).cast("long")
            % n_bits
        )
        for i in range(n_hashes)
    ]


def bloom_build(
    keys: DataFrame, key: str, n_hashes: int = N_HASHES, n_bits: int = MIN_BITS
) -> list[int]:
    """Build the filter over ``keys[key]`` (distinct not required — OR is
    idempotent). Returns the word array (python ints, n_bits/64 longs) —
    model state, broadcast into probes as literals."""
    if n_bits % 64:
        raise ValueError("n_bits must be a multiple of 64")
    pos = _positions(F.col(key), n_hashes, n_bits)
    bits = keys.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        (p / 64).cast("long").alias("w"),
                        F.call_function(
                            "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
                        ).alias("b"),
                    )
                    for p in pos
                ]
            )
        ).alias("e")
    )
    got = {
        r["w"]: r["b"]
        for r in bits.groupBy("e.w").agg(F.bit_or("e.b").alias("b")).collect()
    }
    return [got.get(w, 0) for w in range(n_bits // 64)]


def bloom_build_auto(
    keys: DataFrame,
    key: str,
    probe_keys: DataFrame | None = None,
    probe_key: str | None = None,
) -> tuple[list[int], int] | None:
    """Size the filter from the keys' actual cardinality, or REFUSE.

    Two failure modes make a fixed filter pure overhead, both measured on
    q06 at 100× replica scale:

    * **Saturation** — ~1M distinct qualifying custkeys filled the old
      fixed 2 KB filter completely, so every probe passed (the bloom stage
      cost ~10.5 s for zero pruned rows). One map-side-combined
      ``approx_count_distinct`` row (HLL ±2%, model state) picks
      n_bits ≈ BITS_PER_KEY × NDV (next power of two, ~1% FP at 10
      bits/key, k=4); past ``MAX_BITS`` (128 KB of plan-literal words) the
      dim is not "selective" and the right 1000-executor plan is the plain
      exact join → return None. The 1.25× slack keeps the HLL error band
      from flapping the decision at the boundary.
    * **Non-selectivity** — q06's original predicate qualified 95% of all
      custkeys: the filter fits, but it passes ~95% of probe rows, so the
      build+probe never pays. With ``probe_keys`` given, a second HLL row
      estimates the probe side's key domain and the build REFUSES when
      dim NDV > MAX_HIT_RATE × probe NDV (prune rate under ~70%).

    Honest scope note: any dim small enough for a plan-literal filter is
    also small enough for Spark to broadcast, where a hash-set probe beats
    k md5s per row — the explicit filter's production window is dims past
    the broadcast threshold but inside the filter cap (the regime Spark's
    own runtime bloom-filter injection targets). This operator's value here
    is the engine-portable deterministic bits (DuckDB-replayable, tested)
    and the refusal discipline that keeps it from ever being a regression.
    """
    ndv = keys.agg(F.approx_count_distinct(key).alias("n")).collect()[0]["n"]
    need = max(MIN_BITS, BITS_PER_KEY * max(int(ndv), 1))
    if need > MAX_BITS * 1.25:
        return None
    if probe_keys is not None:
        pcol = probe_key or key
        probe_ndv = probe_keys.agg(
            F.approx_count_distinct(pcol).alias("n")
        ).collect()[0]["n"]
        if int(ndv) > MAX_HIT_RATE * max(int(probe_ndv), 1):
            return None
    n_bits = min(1 << (need - 1).bit_length(), MAX_BITS)
    return bloom_build(keys, key, N_HASHES, n_bits), n_bits


def bloom_might_contain(
    key: Column, words: list[int], n_hashes: int = N_HASHES, n_bits: int = MIN_BITS
) -> Column:
    """Membership test against a built filter — a pure codegen expression
    (k md5s + k bit probes into a literal array), no shuffle, no Python.
    The word array is ONE Literal node (not a CreateArray of n_bits/64
    children), so large filters don't blow the Janino expression budget."""
    warr = F.lit([int(w) for w in words]).cast("array<long>")
    cond = None
    for p in _positions(key, n_hashes, n_bits):
        hit = (
            F.element_at(warr, (p / 64).cast("int") + 1).bitwiseAND(
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
                )
            )
            != 0
        )
        cond = hit if cond is None else (cond & hit)
    return cond
