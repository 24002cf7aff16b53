"""Deduplication operators for training-data pipelines.

Four families, each with the scalable Spark shape:

* exact       — hash-groupBy on a normalized fingerprint (one shuffle on the
  fingerprint key; keep-min-id representative).
* minhash-LSH — shingle → minhash signature → banded bucket join → exact
  jaccard verification on candidates only. Never compares all pairs: the
  only shuffles are groupBys on (doc, shingle)-derived keys and the bucket
  self-join, all linear in corpus size at fixed band width.
* simhash     — per-token hash bits, majority vote per bit, compact int
  fingerprint; near-dups collide in fingerprint space.
* n-gram jaccard — exact set overlap on blocked candidate pairs.

Portability design: all hashing is md5-hex (identical in every engine), and
the "minhash" of a shingle set is the *lexicographically minimal md5 hex
string* under per-permutation salts — a valid uniform minhash that needs no
64-bit integer coercion, so the DuckDB oracle can reproduce it with pure
string ops. Band keys are md5 over concatenated signature slices.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from minarrow_spark.functions.text import shingles, tokens

# --------------------------------------------------------------------------
# corpus augmentation (test-data synthesis for dedup demos/oracles)
# --------------------------------------------------------------------------


# every 10th doc gets a copy with id + 100000 and its first 5 tokens dropped
NEAR_DUP_EVERY, NEAR_DUP_ID_OFFSET, NEAR_DUP_DROP_TOKENS = 10, 100_000, 5


def augment_with_near_dups(docs: DataFrame) -> DataFrame:
    """Append a perturbed copy of every ``NEAR_DUP_EVERY``-th doc (first
    ``NEAR_DUP_DROP_TOKENS`` tokens removed, id shifted by
    ``NEAR_DUP_ID_OFFSET``) — gives dedup queries a known dup population.
    Deterministic; the oracle reproduces it with the same expression."""
    toks = tokens(F.col("text"))
    variant = docs.filter(F.col("doc_id") % NEAR_DUP_EVERY == 0).select(
        (F.col("doc_id") + NEAR_DUP_ID_OFFSET).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, NEAR_DUP_DROP_TOKENS + 1, F.size(toks))
        ).alias("text"),
        "lang",
        "source",
        F.col("n_chars"),
    )
    return docs.select("doc_id", F.lower(F.trim("text")).alias("text"), "lang", "source", "n_chars").unionByName(variant)


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup on normalized-text md5: one shuffle on the 128-bit key.
    Returns (fp, keep_id, n_copies)."""
    from minarrow_spark.functions.text import WS

    fp = F.md5(F.regexp_replace(F.lower(F.trim(F.col(text_col))), WS, " "))
    return (
        docs.select(fp.alias("fp"), F.col("doc_id"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# --------------------------------------------------------------------------
# minhash + LSH
# --------------------------------------------------------------------------

# One fixed MinHash/LSH configuration for every tier (q35's fused operator,
# the composable pieces, q34's streaming dedup): word 3-gram shingles, 8
# minhashes of 16 bits each, 4 bands of 2 hashes. Each salted md5 is sliced
# into PER_MD5 fixed-width hex windows, so the whole 8-hash signature costs
# ONE md5 per shingle (the 32-bit packing costs two — measured ~25% slower
# end-to-end at sf0.1). Minhash width only moves the candidate
# false-positive rate; the exact-jaccard verify decides output values, so
# the narrow slices are pure throughput. The DuckDB oracle reproduces the
# hash as min(substr(md5(salt||shingle), HEX_WIDTH*k+1, HEX_WIDTH)).
K = 3
NUM_HASHES = 8
BAND_SIZE = 2
HASH_BITS = 16
PER_MD5 = 128 // HASH_BITS  # sub-hashes per md5 digest
HEX_WIDTH = HASH_BITS // 4  # hex chars per sub-hash
N_MD5 = -(-NUM_HASHES // PER_MD5)  # digests per shingle (ceil)
N_BANDS = NUM_HASHES // BAND_SIZE


def _signature(sh: DataFrame, group_key: list[str], *extra: Column) -> DataFrame:
    """MinHash signature (h0..h7) per ``group_key`` from exploded
    (keys…, shingle) rows, plus any ``extra`` aggregates.

    Physical shape (deliberately explode → groupBy, not per-row HOF
    arrays): md5 + substring over the exploded rows stay inside whole-stage
    codegen, and the groupBy is map-side combined — 8 partial minima per
    group cross the wire, not shingle data. Higher-order lambdas evaluate
    interpreted: the HOF form (``minhash_signatures``) measured ~1.6×
    slower at sf0.1 and cost q34's stream tier 22 s at the 10× point.
    Groups with no shingles have no rows here."""
    keys = [c for c in sh.columns if c != "shingle"]
    src = sh.select(
        *keys,
        *[
            F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle"))).alias(f"m{i}")
            for i in range(N_MD5)
        ],
    )
    return src.groupBy(*group_key).agg(
        *extra,
        *[
            F.min(
                F.substring(
                    F.col(f"m{i // PER_MD5}"), 1 + HEX_WIDTH * (i % PER_MD5), HEX_WIDTH
                )
            ).alias(f"h{i}")
            for i in range(NUM_HASHES)
        ],
    )


def _band_keys() -> Column:
    """array<struct<band_id, band_key>> over a signature row: band b's key
    is md5(h_{2b} || h_{2b+1}). A null signature gives null band keys, so
    shingle-less docs never collide."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat(*[F.col(f"h{b * BAND_SIZE + j}") for j in range(BAND_SIZE)])
                ).alias("band_key"),
            )
            for b in range(N_BANDS)
        ]
    )


def doc_shingle_arrays(docs: DataFrame) -> DataFrame:
    """Per-doc distinct shingle arrays: (doc_id, sh_arr). The zero-shuffle
    representation — everything derivable per-row stays per-row."""
    return docs.select(
        "doc_id", F.array_distinct(shingles(F.col("text"), K)).alias("sh_arr")
    )


def minhash_signatures(dsa: DataFrame) -> DataFrame:
    """Minhash signature per doc in the per-row HOF form (array_min ∘
    transform over the shingle array): h_i is the min over shingles of
    window i of md5(salt || '|' || shingle). Zero shuffles, but the lambdas
    evaluate interpreted, so the hot paths use ``_signature`` instead. This
    independent form is the reference the tests pin ``_signature`` to.
    Lexicographic min over fixed-width md5-hex slices is a uniform 16-bit
    minhash (hex order is byte order). Docs with no shingles yield null
    signatures and drop out of banding."""

    def sliced(i: int):
        # NB: must be a 1-arg lambda — F.transform passes (element, index)
        # to 2-arg callables, which would corrupt the salt.
        prefix = f"{i // PER_MD5}|"
        pos = 1 + HEX_WIDTH * (i % PER_MD5)
        return lambda s: F.substring(
            F.md5(F.concat(F.lit(prefix), s)), pos, HEX_WIDTH
        )

    return dsa.select(
        "doc_id",
        *[
            F.array_min(F.transform(F.col("sh_arr"), sliced(i))).alias(f"h{i}")
            for i in range(NUM_HASHES)
        ],
    )


def lsh_candidates(sig: DataFrame) -> DataFrame:
    """Banded LSH: docs sharing any band key become candidate pairs
    (da < db).

    Scale shape: explode to (band_id, band_key, doc_id), self-join on the
    band key — work is Σ bucket² which LSH keeps small; skewed buckets are
    handled by AQE skew-join."""
    exploded = sig.select("doc_id", F.explode(_band_keys()).alias("b")).select(
        "doc_id", F.col("b.band_id").alias("band_id"), F.col("b.band_key").alias("band_key")
    )
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .distinct()
    )


def minhash_lsh_jaccard(docs: DataFrame) -> DataFrame:
    """Fused minhash → banded LSH → exact-jaccard pipeline: (da, db, jaccard)
    for every candidate pair, equal to ``minhash_signatures`` →
    ``lsh_candidates`` → ``jaccard_pairs_arr`` (pinned in
    tests/test_scale_ops.py). No persist()/unpersist() lifecycle: the
    intermediate materializations are GC-scoped localCheckpoints.

    Exact-duplicate collapse (the production "exact-dedup before
    near-dedup" pattern): pair work inside an LSH bucket is quadratic in
    bucket size, and a c-way exact-duplicate cluster (boilerplate pages,
    mirrored shards) puts c identical signatures in EVERY band bucket — c²
    candidate pairs, each paying the full shingle-intersection verify. So
    the signature aggregate keys on an exact text fingerprint and each
    distinct text enters banding and verification once. The full pair list
    is rebuilt from slim (doc_id, rep) member rows: within-group pairs are
    jaccard 1.0 (identical text ⇒ identical shingle set), cross-group pairs
    inherit their representatives' verified jaccard (identical sets ⇒
    identical intersections), so the expansion is exact. Measured on the
    100× key-shifted replica corpus (5M docs, every doc in a 100-way clone
    cluster — scripts/scale100.py): 114 s uncollapsed → see SCALE.md.

    Physical shape: ``_signature``'s explode → map-side-combined groupBy;
    band keys explode from the (tiny) signature rows and the band self-join
    carries (rep, band_id, band_key) only. The candidate pairs broadcast
    into the two shingle-array attach joins, so the corpus-sized array
    table streams through with NO shuffle. Jaccard is per-row array math on
    candidates only; skewed band buckets fall to AQE skew-join; candidates
    past the broadcast threshold fall back to a shuffle join. (Candidates
    deliberately appear ONCE in the tree — a pre-filter of docs by
    candidate ids was measured slower because the whole signature pipeline
    re-executes per extra reference.)

    Measured at sf0.1 (noop-sink materialization): ~1.4 s (16-bit slices,
    eager checkpoint) vs 2.1 s (32-bit) vs 3.1 s for the round-1
    persist+attach-join formulation.

    (A runtime clone-detection gate — skip collapse when
    count_distinct(fp) == count — was measured and rejected: the driver
    testdata itself carries exact shingle-set clones even at sf0.1 (5500
    non-empty docs, 5492 distinct sets), so the gate never fires on real
    corpora and its agg job is pure overhead.)"""
    from concurrent.futures import ThreadPoolExecutor

    # Exact-clone fingerprint: md5 of the RAW text. Identical text ⇒
    # identical shingle set ⇒ identical signature, bands and jaccard
    # against ANY third doc, so it is a SOUND collapse key (finer than a
    # shingle-set fp, which costs a little extra band work, never
    # correctness). It is computable on a column-pruned (doc_id, text) scan
    # BEFORE shingling, so the members table never touches the
    # array-carrying checkpoint (deserializing full-width sh_arr rows for a
    # slim window was the r4 bench regression). Carried as TWO longs (120
    # bits of the md5): long-pair grouping keys stay in codegen's fast path
    # where 32-byte strings don't.
    def _fp_cols() -> list[Column]:
        fpm = F.md5(F.col("text"))
        return [
            F.conv(F.substring(fpm, 1, 15), 16, 10).cast("long").alias("fp1"),
            F.conv(F.substring(fpm, 16, 15), 16, 10).cast("long").alias("fp2"),
        ]

    dsa = docs.select(
        "doc_id",
        *_fp_cols(),
        F.array_distinct(shingles(F.col("text"), K)).alias("sh_arr"),
    )
    # Members: doc_id → group representative, from the SOURCE on a pruned
    # (doc_id, text) scan. The tokens>=K filter is the slim equivalent of
    # size(sh_arr)>0, so members covers exactly the docs that reach the
    # signature stage.
    members = (
        docs.filter(F.size(tokens(F.col("text"))) >= K)
        .select("doc_id", *_fp_cols())
        .withColumn("rep", F.min("doc_id").over(Window.partitionBy("fp1", "fp2")))
        .select("doc_id", "rep")
    )

    # Materialization orchestration. localCheckpoint blocks are freed by
    # the ContextCleaner once the query's RDDs are garbage collected, unlike
    # persist() (the round-1 session-lifetime cache leak); the price is
    # truncated lineage (an executor loss reruns the query). Three facts
    # drive the shape:
    # (1) AQE's runtime exchange reuse shares only the SHUFFLE — each
    #     consumer re-runs everything above the reused exchange, and
    #     exchange-free subtrees (dsa's scan→project) share nothing — so the
    #     multiply-consumed stages are materialized: dsa (sig + both jaccard
    #     attaches), sig (both band sides), members (ma, mb, within ×2).
    #     Measured: explicit sig checkpoint 1.50 s vs runtime-reuse-only
    #     1.62 s at sf0.1;
    # (2) each blocking checkpoint job carries ~0.3 s of fixed scheduling
    #     cost, so job boundaries are the scarce resource;
    # (3) Spark job submission is thread-safe, so the members job (which
    #     depends only on the source) runs concurrently with the dsa → sig
    #     chain.
    # dsa is LAZY-checkpointed and the eager sig job is its single,
    # sequential first toucher (the blocking sig checkpoint completes
    # before any attach branch reads dsa; the members job never touches
    # it), so one job materializes both. Eager beats the alternatives,
    # measured at sf0.1: eager 1.4 s; lazy checkpoints 1.6–2.3 s bimodal
    # (concurrent first-touching stages duplicate partition compute); no
    # checkpoints ~1.9 s (every consumer recomputes the text pipeline).
    dsa = dsa.localCheckpoint(eager=False)
    # Keyed on the text fingerprint, clone groups combine MAP-SIDE: one
    # signature (and its min-doc representative) crosses the wire per
    # distinct text. The rep id is itself a unique group key, so everything
    # downstream is id-keyed.
    sh = dsa.select("fp1", "fp2", "doc_id", F.explode("sh_arr").alias("shingle"))
    with ThreadPoolExecutor(1) as pool:
        fut = pool.submit(lambda df=members: df.localCheckpoint(eager=True))
        sig = _signature(sh, ["fp1", "fp2"], F.min("doc_id").alias("rep"))
        sig = sig.localCheckpoint(eager=True)
        members = fut.result()
    bandrows = sig.select("rep", F.explode(_band_keys()).alias("bb")).select(
        "rep", "bb.band_id", "bb.band_key"
    )
    a = bandrows.select(F.col("rep").alias("da"), "band_id", "band_key")
    b = bandrows.select(F.col("rep").alias("db"), "band_id", "band_key")
    cands = (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("da") < F.col("db"))
        .select("da", "db")
        .distinct()
    )
    arr_a = dsa.select(F.col("doc_id").alias("da"), F.col("sh_arr").alias("arr_a"))
    arr_b = dsa.select(F.col("doc_id").alias("db"), F.col("sh_arr").alias("arr_b"))
    ni = F.size(F.array_intersect("arr_a", "arr_b")).cast("double")
    jac = F.round(ni / (F.size("arr_a") + F.size("arr_b") - ni), 6)
    # The candidate side is hinted broadcast; AQE keeps the second attach
    # broadcast too (its build side is candidate-sized at runtime). A second
    # explicit hint was measured slower — it forces an eager blocking
    # broadcast build of the intermediate join. Arrays attach by doc_id on
    # plain dsa scans — the corpus-sized array table never shuffles.
    rep_pairs = (
        F.broadcast(cands)
        .join(arr_a, "da")
        .join(arr_b, "db")
        .select("da", "db", jac.alias("jaccard"))
    )

    # Expansion back to the full pair list from the slim members rows.
    ma = members.select(F.col("rep").alias("da"), F.col("doc_id").alias("ia"))
    mb = members.select(F.col("rep").alias("db"), F.col("doc_id").alias("ib"))
    cross = (
        F.broadcast(rep_pairs)
        .join(ma, "da")
        .join(mb, "db")
        .select(
            F.least("ia", "ib").alias("da"),
            F.greatest("ia", "ib").alias("db"),
            "jaccard",
        )
    )
    within = (
        ma.withColumnRenamed("da", "rep")
        .join(mb.withColumnRenamed("db", "rep"), "rep")
        .filter(F.col("ia") < F.col("ib"))
        .select(
            F.col("ia").alias("da"),
            F.col("ib").alias("db"),
            F.lit(1.0).alias("jaccard"),  # identical sets, exactly
        )
    )
    return cross.unionByName(within)


def jaccard_pairs_arr(cands: DataFrame, dsa: DataFrame) -> DataFrame:
    """Exact jaccard for candidate pairs from per-doc shingle *arrays*:
    two equi-joins to attach the arrays, then per-row array_intersect — no
    shingle-level shuffle at all (docs are bounded-size)."""
    a = dsa.select(F.col("doc_id").alias("da"), F.col("sh_arr").alias("arr_a"))
    b = dsa.select(F.col("doc_id").alias("db"), F.col("sh_arr").alias("arr_b"))
    ni = F.size(F.array_intersect(F.col("arr_a"), F.col("arr_b"))).cast("double")
    return (
        cands.join(a, "da")
        .join(b, "db")
        .select(
            "da",
            "db",
            F.round(
                ni / (F.size("arr_a") + F.size("arr_b") - ni), 6
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# simhash
# --------------------------------------------------------------------------


def simhash(docs: DataFrame, text_col: str = "text", bits: int = 16) -> DataFrame:
    """``bits``-wide simhash per doc from ONE md5 per token (bits ≤ 64):
    bit j < 32 reads the HIGH bit (bit 3) of hex nibble j; bit j ≥ 32
    reads bit 1 of hex nibble j−32 of the SAME digest. Disjoint bits of
    one md5 are as independent as separate digests (the q24-CMS/bloom
    window-slicing argument: the digest, not the slice, is the per-row
    cost), so the 64-bit web-dedup shape (Manku et al., WWW'07) costs the
    same hashing as the 32-bit one — the earlier salted-second-digest
    layout doubled the md5 work on the token explode, the single hottest
    expression in q36's signature stage (x10: 64-bit sig pass measured
    ~+2 s over 32-bit; this layout closes that gap).

    Bit j of a token votes; the document bit is the majority; fingerprint
    = OR of bit_j << j (bitwise, so bit 63 — the long's sign bit — is
    well-defined with no ANSI overflow concern; for distinct powers OR
    equals the old Σ form bit-for-bit). One explode + one groupBy(doc_id)
    with ``bits`` conditional sums — a single shuffle, signature width is
    free (map-side combine; plain long sums stay far inside the
    codegen-size limits the q39b decimal form hit).

    Nibble extraction is LONG-CHUNKED: the hex digest converts to 4 longs
    once per token row (8 hex chars each) and every vote is a shift/mask —
    the per-nibble conv(substring(...)) form did 32 string ops per row and
    made the 32-bit pass the dominant q36 stage at the 10× point (hex char
    p of a chunk occupies bits 4·(7−p)..+3 of its long, so nibble bit q is
    long bit 4·(7−p)+q; the oracle replays bit 3 as strpos-value ≥ 8 and
    bit 1 as membership in '2367abef')."""
    if not 1 <= bits <= 64:
        raise ValueError(f"bits must be in [1, 64], got {bits}")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col(text_col))).alias("tok")
    ).withColumn("h", F.md5(F.col("tok")))
    n_chunks = min(-(-bits // 8), 4)
    # Expressions are built as SQL STRINGS, one py4j call per column (r8
    # floor cut, measured at sf0.001): composing the 64 vote sums and the
    # 64-term fingerprint fold from Column operators made ~900 py4j
    # round-trips — ~1.3 s of PYTHON-side DataFrame construction per run,
    # the single largest piece of q36's fixed per-run floor (Spark-side
    # analysis+optimization of the same plan is ~0.15 s). The JVM parses
    # each string once; the resulting plan, types, and values are
    # identical to the old operator-composed form.
    chunked = tok.selectExpr(
        "doc_id",
        *[
            f"CAST(conv(substring(h, {8 * k + 1}, 8), 16, 10) AS BIGINT) AS c{k}"
            for k in range(n_chunks)
        ],
    )

    def vote_sql(j: int) -> str:
        k, p = divmod(j if j < 32 else j - 32, 8)
        shift = 4 * (7 - p) + (3 if j < 32 else 1)
        return f"sum((shiftright(c{k}, {shift}) & 1) * 2 - 1) AS v{j}"

    voted = chunked.groupBy("doc_id").agg(
        *[F.expr(vote_sql(j)) for j in range(bits)]
    )
    fp_sql = " | ".join(
        f"IF(v{j} > 0, shiftleft(CAST(1 AS BIGINT), {j}), CAST(0 AS BIGINT))"
        for j in range(bits)
    )
    return voted.selectExpr("doc_id", f"CAST(({fp_sql}) AS BIGINT) AS simhash")


def simhash_hamming_pairs(
    sig: DataFrame, bits: int = 32, bands: int = 4, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs from simhash signatures via banded blocking: split the
    ``bits``-wide fingerprint into ``bands`` equal bands; candidates share
    at least one exact band (pigeonhole: hamming ≤ bands−1 GUARANTEES a
    shared band, so recall at ``max_hamming`` < bands is exact, not
    probabilistic); verify bit_count(xor) ≤ max_hamming on candidates only.

    PRECONDITION: ``sig`` must carry exactly one row per doc_id (what
    :func:`simhash` emits — it ends in a groupBy(doc_id)). The first-band
    ownership filter below emits each qualifying PAIR exactly once only
    under that uniqueness; duplicate input rows would surface duplicated
    pairs (the pre-r10 trailing ``.distinct()`` silently absorbed them).

    Scale shape: band rows are (doc_id, band_id, band_key) — integers only;
    the self-join is an equi-join on the band key (the q35/q39b LSH shape),
    candidates join back to the 2-column signature table. Band width
    bits/bands is the selectivity lever: unrelated docs collide in one band
    with p ≈ 2^−(bits/bands)."""
    if bits % bands:
        raise ValueError(f"bits={bits} not divisible by bands={bands}")
    width = bits // bands
    mask = (1 << width) - 1
    # The signature is ONE long, so it rides through the band self-join
    # (unlike q35's arrays, which must attach after): the hamming verify is
    # then a pure codegen filter ON the join output — no candidate→signature
    # attach joins at all.
    bandrows = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftright("simhash", b * width)
                        .bitwiseAND(mask)
                        .alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band_id", "bk.band_key")
    a = bandrows.select(
        F.col("doc_id").alias("da"), F.col("simhash").alias("ha"),
        "band_id", "band_key",
    )
    b = bandrows.select(
        F.col("doc_id").alias("db"), F.col("simhash").alias("hb"),
        "band_id", "band_key",
    )
    # FIRST-BAND OWNERSHIP instead of a trailing `.distinct()` (r10 opt):
    # a pair colliding in k bands used to surface k times and get deduped
    # by an extra exchange + agg over every survivor (~503k rows at the
    # x10 point). Signatures are unique per doc_id (simhash groupBy), so
    # keeping a pair only in the SMALLEST band index where the two
    # signatures agree keeps it exactly once — a pure codegen filter on
    # the already-computed xor, evaluated only on rows that pass the
    # hamming verify. Same output set (probe-asserted pair-for-pair at
    # x10), one fewer shuffle: interleaved A/B best 3.36 → 2.84 s on the
    # redges checkpoint (.scratch/q36_redges_minband_probe.py).
    first_band = (
        "CASE "
        + " ".join(
            f"WHEN ((x >> {j * width}) & {mask}) = 0 THEN {j}"
            for j in range(bands)
        )
        + " END"
    )
    return (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("da") < F.col("db"))
        .withColumn("x", F.col("ha").bitwiseXOR(F.col("hb")))
        .withColumn("hamming", F.bit_count(F.col("x")))
        .filter(F.col("hamming") <= max_hamming)
        .filter(F.expr(f"band_id = ({first_band})"))
        .select("da", "db", "hamming")
    )


def simhash_width_auto(
    distinct_n: int, median_tokens: float, collision_budget: int = 100
) -> tuple[int, int]:
    """Pick (bits, bands) for simhash dedup from corpus statistics — the
    r5 verdict's last documented scale judgment call, made explicit
    (reference precedent: operator knobs are explicit enums, not silent
    defaults — /root/reference/src/enums/operators.rs:19-48).

    Decision record (SCALE.md 'simhash width selection', measured sf0.01):
    * 32-bit / 4×8 bands: exact pigeonhole recall at hamming ≤ 3, and the
      RIGHT detection rate for short-doc corpora — but only 1024 band
      buckets, so unrelated-pair collisions grow ~N²/1024 in distinct-N.
    * 64-bit / 4×16 bands: ~30× fewer collisions on the same corpus
      (9.9k vs ~280k measured), the web-dedup production shape — but
      hamming ≤ 3 of 64 is a ~2× stricter relative criterion that short
      docs fail (detected edges collapsed 5573 → 73 on this corpus's
      ~100-token docs, whose 5-token-drop near-dups flip > 3 of 64 bits).

    So the upgrade needs BOTH: enough distinct documents that the 32-bit
    collision volume leaves the linear budget (distinct_n >
    collision_budget · 2⁸ / bands ⇒ expected collisions per doc >
    budget), AND documents long enough (median ≥ 256 tokens) that true
    near-dups stay within hamming 3 of 64."""
    bands = 4  # single source for the threshold AND both return values
    if (
        distinct_n > collision_budget * (1 << 8) // bands
        and median_tokens >= 256
    ):
        return 64, bands
    return 32, bands


def simhash_dedup(
    docs: DataFrame,
    text_col: str = "text",
    width: int | str = "auto",
    max_hamming: int = 3,
    collision_budget: int = 100,
) -> tuple[DataFrame, dict]:
    """End-to-end simhash near-dup detection with width auto-selection:
    signatures → banded hamming pairs → connected components → clusters
    (doc_id, keep_id, is_keeper).

    ``width``: 32, 64, or "auto" — auto computes the two corpus statistics
    the decision rule needs (approx distinct-N over the text fingerprint,
    median whitespace-token count) in ONE extra aggregation job and applies
    :func:`simhash_width_auto`. Returns (clusters, info) where ``info``
    records the chosen config and the stats that drove it — the choice is
    explicit in the pipeline's logs, never silent.

    Scale shape: the stats job is a single map-side-combined aggregate
    (approx_count_distinct sketch + exact percentile over one long column);
    everything downstream is the q36-hardened shape (integer band keys,
    hamming verify before distinct, label-table-only CC rounds). On a
    clone-heavy corpus, rep-filter FIRST (the q36 exact-content collapse:
    identical text ⇒ identical simhash ⇒ c² redundant band pairs) and run
    this on representatives — banded pair generation is quadratic in
    exact-clone count by construction."""
    from minarrow_spark._sql import ident
    from minarrow_spark.functions.text import token_count_sql
    from minarrow_spark.operators.graph import dedup_clusters

    info: dict = {"width": width}
    if width == "auto":
        stats = docs.agg(
            F.approx_count_distinct(F.md5(F.col(text_col))).alias("n"),
            F.percentile_approx(
                F.expr(token_count_sql(ident(text_col))), F.lit(0.5)
            ).alias("med"),
        ).collect()[0]
        bits, bands = simhash_width_auto(
            int(stats["n"]), float(stats["med"] or 0), collision_budget
        )
        info.update(
            distinct_n=int(stats["n"]),
            median_tokens=float(stats["med"] or 0),
            chosen_bits=bits,
            bands=bands,
        )
    elif width in (32, 64):
        bits, bands = int(width), 4
        info.update(chosen_bits=bits, bands=bands)
    else:
        raise ValueError(f"width must be 32, 64 or 'auto', got {width!r}")
    sig = simhash(docs, text_col=text_col, bits=bits)
    pairs = simhash_hamming_pairs(
        sig, bits=bits, bands=bands, max_hamming=max_hamming
    ).localCheckpoint(eager=True)
    return dedup_clusters(pairs), info


# --------------------------------------------------------------------------
# blocked edit-distance (fuzzy) self-join — entity-resolution near-dups
# --------------------------------------------------------------------------


def fuzzy_pairs(
    names: DataFrame,
    id_col: str = "k",
    name_col: str = "nm",
    prefix_len: int = 4,
    max_dist: int = 3,
) -> DataFrame:
    """Pairs of rows whose ``name_col`` values are within ``max_dist``
    Levenshtein edits, blocked by the ``prefix_len``-char prefix — the
    entity-resolution primitive (near-identical titles/names/URLs).

    Scale shape: the self-join is an EQUI-join on the prefix block (never
    all-pairs); the O(len²) edit-distance kernel runs only inside blocks.
    ``prefix_len`` is the selectivity lever (longer prefix → smaller
    blocks → lower recall for early-position edits); at higher density add
    a second blocking key (length bucket, q37-style) or band over multiple
    prefixes/suffixes to recover prefix-edit recall. Deterministic: both
    engines' `levenshtein` is the classic unit-cost edit distance on
    identical strings.
    """
    a = names.select(
        F.col(id_col).alias("da"),
        F.col(name_col).alias("na"),
        F.substring(name_col, 1, prefix_len).alias("pfx"),
    )
    b = names.select(
        F.col(id_col).alias("db"),
        F.col(name_col).alias("nb"),
        F.substring(name_col, 1, prefix_len).alias("pfx"),
    )
    return (
        a.join(b, "pfx")
        .filter(F.col("da") < F.col("db"))
        .select(
            "da", "db", F.levenshtein("na", "nb").cast("double").alias("dist")
        )
        .filter(F.col("dist") <= max_dist)
    )
