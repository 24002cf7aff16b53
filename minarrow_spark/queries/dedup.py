"""Deduplication queries over `documents` (exact, minhash-LSH, simhash,
n-gram jaccard) — SURVEY extension ops for training-data pipelines.

The corpus has no natural duplicates, so queries that detect dups first
*augment* it with deterministic synthetic near/exact copies (id-shifted,
optionally token-dropped) — the oracle reproduces the same augmentation, so
the detection pipeline is exercised end-to-end with non-trivial output.

All hashing is md5-hex; minhash = lexicographic min of salted md5 strings
(a valid uniform minhash that both engines compute identically — see
operators/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from minarrow_spark.operators.dedup import (
    augment_with_near_dups,
    exact_dedup,
    minhash_lsh_jaccard,
)
from minarrow_spark.functions.text import WS
from minarrow_spark.queries._util import T, par, scratch_dir
from minarrow_spark.registry import query

# Shared oracle CTE fragments ------------------------------------------------

_CORPUS_NEAR = """
    base AS (
      SELECT doc_id, lower(trim(text)) AS text, lang, source, n_chars
      FROM documents
    ),
    variants AS (
      SELECT doc_id + 100000 AS doc_id,
             array_to_string(regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f]+')[6:], ' ')
               AS text,
             lang, source, n_chars
      FROM base WHERE doc_id % 10 = 0
    ),
    corpus AS (SELECT * FROM base UNION ALL SELECT * FROM variants),
    tok AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f]+') AS w FROM corpus
    ),
    sh0 AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
               AS shingle
      FROM tok
    ),
    sh AS (SELECT DISTINCT doc_id, shingle FROM sh0)
"""


@query(
    "q34_dedup_exact",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 300000,
             chr(8203) || regexp_replace(text, ' ', '  ', 'g')
                       || chr(7) || ' ' || chr(9) || ' '
      FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 400000, text || ' caf' || chr(233)
      FROM documents WHERE doc_id % 20 = 0
      UNION ALL
      SELECT doc_id + 500000, text || ' cafe' || chr(769)
      FROM documents WHERE doc_id % 20 = 0
    ),
    normed AS (
      SELECT doc_id,
             nfc_normalize(
               trim(regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     text,
                     '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f-\\x9f]', '', 'g'),
                   '[\\x{200b}\\x{200c}\\x{200d}\\x{2060}\\x{feff}]', '', 'g'),
                 '[ \\t\\n\\r\\f]+', ' ', 'g'))) AS text
      FROM corpus
    ),
    fps AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '[ \\t\\n\\r\\f]+', ' ', 'g')) AS fp
      FROM normed
    ),
    scorpus AS (SELECT doc_id, text FROM corpus WHERE doc_id % 16 = 0),
    tok AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f]+') AS w
      FROM scorpus
    ),
    sh0 AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
               AS shingle
      FROM tok
    ),
    sh AS (SELECT DISTINCT doc_id, shingle FROM sh0),
    ssig AS (
      SELECT doc_id,
             min(substr(md5('0|' || shingle),  1, 4)) AS h0,
             min(substr(md5('0|' || shingle),  5, 4)) AS h1,
             min(substr(md5('0|' || shingle),  9, 4)) AS h2,
             min(substr(md5('0|' || shingle), 13, 4)) AS h3,
             min(substr(md5('0|' || shingle), 17, 4)) AS h4,
             min(substr(md5('0|' || shingle), 21, 4)) AS h5,
             min(substr(md5('0|' || shingle), 25, 4)) AS h6,
             min(substr(md5('0|' || shingle), 29, 4)) AS h7
      FROM sh GROUP BY doc_id
    ),
    sband AS (
      SELECT doc_id, 0 AS band_id, md5(h0 || h1) AS band_key FROM ssig
      UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM ssig
      UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM ssig
      UNION ALL SELECT doc_id, 3, md5(h6 || h7) FROM ssig
    ),
    sfirst AS (
      SELECT band_id, band_key, MIN(doc_id) AS first_id
      FROM sband GROUP BY 1, 2
    ),
    sdup AS (
      SELECT DISTINCT b.doc_id
      FROM sband b
      JOIN sfirst f ON f.band_id = b.band_id AND f.band_key = b.band_key
       AND b.doc_id > f.first_id
    ),
    bounds AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM scorpus)
    SELECT 'exact' AS tier, fp, CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM fps GROUP BY fp
    UNION ALL
    SELECT 'stream', CAST(c.doc_id AS VARCHAR),
           CAST(LEAST(1, ((c.doc_id - o.lo) * 2) // (o.hi - o.lo + 1)) AS BIGINT),
           CAST((s.doc_id IS NOT NULL) AS BIGINT)
    FROM scorpus c
    CROSS JOIN bounds o
    LEFT JOIN sdup s ON s.doc_id = c.doc_id
    UNION ALL
    SELECT 'fold', band_key, CAST(first_id AS BIGINT), CAST(band_id AS BIGINT)
    FROM sfirst
    """,
    tags=("dedup", "exact", "normalize", "streaming", "ST1", "ST3"),
)
def q34_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup through the full normalization stack, plus the streamed
    incremental-dedup state algebra — two tiers:

    * tier 'exact' — Catalyst cleanup (`normalize_text`: control/zero-width
      strip + whitespace collapse) → Arrow-batched Unicode NFC
      (`normalize_text_nfc`, mapInArrow — DuckDB's `nfc_normalize` is the
      oracle twin) → md5 fingerprint hash-groupBy, keep-min-id.
      Columns: (fp, keep_id, n_copies).
    * tier 'stream' — the incremental minhash-LSH dedup state machine
      (streaming/dedup.py) exercised end-to-end THROUGH ITS AT-REST FILES
      (r8 verdict task 6, on the q46 'rollup' precedent): the corpus is
      split into 2 deterministic id-range batches (boundaries from one
      min/max agg — id-ordered arrival is the replay contract), both run
      through `dedup_writer`'s real probe→verdict→state-append path
      (batch 1 probes batch 0's raw state). The DuckDB twin is the
      one-shot batch SQL (dup ⇔ a lower-id doc shares a band key) plus
      the batch assignment replayed from the same min/max bounds.
      Columns (slot-mapped into the shared schema): fp = doc_id as
      string, keep_id = batch id, n_copies = is_dup as 0/1.
    * tier 'fold' — `compact_state`'s LSM min-of-firsts across BOTH batch
      dirs (written under the batch=-1 sentinel), emitted as output rows
      and value-checked against the oracle's one-shot sfirst CTE — the
      compaction algebra checked DIRECTLY rather than through a third
      batch's probe verdicts (r9: each replayed batch costs ~2.7 s of
      fixed job boundaries at 100×, and the direct check is stronger;
      the probe-a-compacted-lineage path is pinned in
      tests/test_streaming.py). Columns: fp = band_key, keep_id =
      first_id, n_copies = band_id.

    The corpus is augmented with the variants a real crawl produces, so the
    normalization tiers are what the oracle hash actually checks:
    * +100000 — byte-exact copies (every 10th doc).
    * +300000 — "dirty" copies: ZWSP prefix, doubled spaces, a BEL control,
      trailing tab/space soup. Collapse to the base doc's fingerprint ONLY
      if control/zero-width stripping and whitespace collapsing both work.
    * +400000/+500000 — composed 'é' (U+00E9) vs decomposed 'e'+U+0301
      suffix pairs (every 20th doc): byte-different, NFC-identical — they
      merge ONLY if the NFC pass works.
    The stream tier shingles the RAW corpus (tokens of un-normalized text),
    so byte-exact copies are its guaranteed duplicate signal while the
    dirty/NFC variants exercise shingle-space divergence.

    Scale shape: normalization is a per-row projection plus one
    shuffle-free Arrow map stage; exact dedup stays one shuffle on the
    128-bit fingerprint; the stream tier's state is band-key-sized (no
    text, no shingles) and each batch's work is O(new data)."""
    from minarrow_spark.functions.text import normalize_text, normalize_text_nfc

    # Corpus augmentation as ONE scan + explode of conditional variant
    # structs (r9) \u2014 the old 5-branch union re-scanned the documents
    # parquet per branch (%-filters cannot prune row groups), and this
    # corpus is evaluated by BOTH the exact tier and the stream tier's
    # checkpoint. Rows identical to the union form (A/B-pinned, exceptAll
    # empty both ways); exact tier at 100\u00d7: 3.7 \u2192 2.4 s interleaved.
    d = par(T(spark, sf_dir, "documents")).select("doc_id", "text")
    base = F.struct(F.col("doc_id"), F.col("text"))
    copy_v = F.when(
        F.col("doc_id") % 10 == 0,
        F.struct(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.col("text").alias("text"),
        ),
    )
    dirty_v = F.when(
        F.col("doc_id") % 10 == 0,
        F.struct(
            (F.col("doc_id") + 300000).alias("doc_id"),
            F.concat(
                F.lit("\u200b"),
                F.regexp_replace("text", " ", "  "),
                F.lit("\x07 \t "),
            ).alias("text"),
        ),
    )
    composed_v = F.when(
        F.col("doc_id") % 20 == 0,
        F.struct(
            (F.col("doc_id") + 400000).alias("doc_id"),
            F.concat("text", F.lit(" caf\u00e9")).alias("text"),
        ),
    )
    decomposed_v = F.when(
        F.col("doc_id") % 20 == 0,
        F.struct(
            (F.col("doc_id") + 500000).alias("doc_id"),
            F.concat("text", F.lit(" cafe\u0301")).alias("text"),
        ),
    )
    corpus = d.select(
        F.explode(
            F.array_compact(
                F.array(base, copy_v, dirty_v, composed_v, decomposed_v)
            )
        ).alias("v")
    ).select("v.doc_id", "v.text")
    normed = normalize_text_nfc(
        corpus.withColumn("text", normalize_text(F.col("text")))
    )
    exact = exact_dedup(normed).select(
        F.lit("exact").alias("tier"), "fp", "keep_id", "n_copies"
    )

    # tiers 'stream' + 'fold' — id-range batches through the real state
    # files, then the compacted state itself as output rows.
    import os as _os

    from minarrow_spark.streaming.dedup import STATE_SCHEMA, compact_state, dedup_writer
    from minarrow_spark.streaming.dedup import verdicts as stream_verdicts

    scratch = scratch_dir("sdedup", sf_dir)
    state, comp, out = (
        str(scratch / "state"),
        str(scratch / "compacted"),
        str(scratch / "verdicts"),
    )
    # Deterministic 1/16th replay subset: the tier verifies the STATE
    # ALGEBRA (per-doc exact verdicts through writer + compaction), not
    # corpus-scale minhash throughput — q35 already measures the identical
    # hash shapes over the full corpus. doc_id % 16 co-selects every
    # augmentation variant with its base (all offsets — 100000, 300000,
    # 400000, 500000 — and the 100M replica shift are ≡ 0 mod 16), so the
    # subset keeps a guaranteed duplicate population: every base ≡ 0 mod
    # lcm(16,10)=80 appears with its byte-exact +100000 copy. Full-corpus
    # replay measured 33-64 s at the 100× point — harness cost, not engine
    # cost; 1/8 → 1/16 was the r9 verdict's option (c), worth ~0.7 s.
    # Lazy checkpoint, first-touched by the bounds agg (sequential): the
    # consumers (bounds + batch slices) would otherwise each re-scan
    # and re-augment the FULL corpus — measured 22.8 s at 100× from
    # exactly that, vs one slim subset-sized materialization.
    # The %16 filter is hand-pushed BELOW the augment explode (r11):
    # every variant offset is ≡ 0 mod 16 (the co-selection property the
    # subset already relies on, above), so filtering the BASE rows first
    # and re-applying the same variant expressions yields the identical
    # row multiset while building variant structs for 1/16th of the
    # corpus — Catalyst cannot push a post-explode filter through the
    # generator itself.
    scorpus = (
        d.filter(F.col("doc_id") % 16 == 0)
        .select(
            F.explode(
                F.array_compact(
                    F.array(base, copy_v, dirty_v, composed_v, decomposed_v)
                )
            ).alias("v")
        )
        .select("v.doc_id", "v.text")
        .localCheckpoint(eager=False)
    )
    lo, hi = scorpus.agg(F.min("doc_id"), F.max("doc_id")).first()
    span = hi - lo + 1  # two scalars — bounded model state, like CC's n
    bexpr = F.expr(f"least(1, ((doc_id - {lo}) * 2) div {span})")
    slice_b = lambda b: scorpus.filter(bexpr == b).select("doc_id", "text")
    # TWO replayed batches, not three (r9 — per-batch cost at 100× is
    # ~2.7 s of FIXED job-boundary overhead, independent of subset size:
    # 1/8 vs 1/16 measured 2.9 vs 2.9 s/batch, so the cut is a batch, not
    # rows). Batch 1 probes batch 0's raw state (prior-state probe path);
    # the compaction fold across BOTH batch dirs then becomes the 'fold'
    # output tier — a DIRECT value check of the min-of-firsts algebra
    # against the oracle's sfirst CTE, strictly stronger than the old
    # third batch's indirect probe of it (and the probe-a-compacted-
    # lineage path is pinned in tests/test_streaming.py against the
    # batch=-1 sentinel). Measured refusal (r9): materializing the exact
    # tier on a thread CONCURRENTLY with the replay gains nothing — the
    # vanilla session's FIFO scheduler gives the exact tier's wide stages
    # every slot, the replay's near-single-partition jobs starve (batch 0
    # 2.9 s alone → 7-14 s under contention), and the block degenerates
    # to the serial sum with extra variance.
    writer = dedup_writer(state, out)
    writer(slice_b(0), 0)  # sequential by necessity: batch N probes < N
    writer(slice_b(1), 1)
    compact_state(spark, state, comp)
    stream = stream_verdicts(spark, out).select(
        F.lit("stream").alias("tier"),
        F.col("doc_id").cast("string").alias("fp"),
        F.col("batch").cast("bigint").alias("keep_id"),
        F.col("is_dup").cast("bigint").alias("n_copies"),
    )
    fold_dir = _os.path.join(comp, "batch=-1")
    fold = spark.read.schema(STATE_SCHEMA).parquet(fold_dir).select(
        F.lit("fold").alias("tier"),
        F.col("band_key").alias("fp"),
        F.col("first_id").cast("bigint").alias("keep_id"),
        F.col("band_id").cast("bigint").alias("n_copies"),
    )
    return exact.unionByName(stream).unionByName(fold)


@query(
    "q35_dedup_minhash",
    oracle=f"""
    WITH {_CORPUS_NEAR},
    sig AS (
      SELECT doc_id,
             min(substr(md5('0|' || shingle),  1, 4)) AS h0,
             min(substr(md5('0|' || shingle),  5, 4)) AS h1,
             min(substr(md5('0|' || shingle),  9, 4)) AS h2,
             min(substr(md5('0|' || shingle), 13, 4)) AS h3,
             min(substr(md5('0|' || shingle), 17, 4)) AS h4,
             min(substr(md5('0|' || shingle), 21, 4)) AS h5,
             min(substr(md5('0|' || shingle), 25, 4)) AS h6,
             min(substr(md5('0|' || shingle), 29, 4)) AS h7
      FROM sh GROUP BY doc_id
    ),
    bandrows AS (
      SELECT doc_id, 0 AS band_id, md5(h0 || h1) AS band_key FROM sig
      UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM sig
      UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM sig
      UNION ALL SELECT doc_id, 3, md5(h6 || h7) FROM sig
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM bandrows a
      JOIN bandrows b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.da, c.db, COUNT(*) AS n_inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.da
      JOIN sh sb ON sb.doc_id = c.db AND sb.shingle = sa.shingle
      GROUP BY c.da, c.db
    )
    SELECT c.da, c.db,
           round(CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
                 / (ca.n_sh + cb.n_sh - COALESCE(i.n_inter, 0)), 6) AS jaccard,
           round(CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
                 / (ca.n_sh + cb.n_sh - COALESCE(i.n_inter, 0)), 6) >= 0.5
             AS is_near
    FROM cand c
    LEFT JOIN inter i ON i.da = c.da AND i.db = c.db
    JOIN cnt ca ON ca.doc_id = c.da
    JOIN cnt cb ON cb.doc_id = c.db
    """,
    tags=("dedup", "minhash", "lsh"),
    bench=True,
)
def q35_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup detection end-to-end: shingle → 8-hash signature
    (ONE salted md5 pass per shingle, sliced into 16-bit sub-hashes) →
    4 bands → bucket self-join → exact jaccard verify on colliding rows
    only. The shingle-array table feeding the three consumers (signature +
    both jaccard attaches) is materialized once by a GC-scoped eager
    localCheckpoint (see the operator's orchestration comment for the
    measured lazy-race trade-off) — no all-pairs comparison anywhere.
    Minhash width only moves the candidate false-positive rate (jaccard
    verify decides values), so the 16-bit packing is pure throughput."""
    docs = augment_with_near_dups(par(T(spark, sf_dir, "documents")))
    jp = minhash_lsh_jaccard(docs)
    return jp.select(
        "da", "db", "jaccard", (F.col("jaccard") >= 0.5).alias("is_near")
    )


def _simhash_votes(src: str, bits: int) -> str:
    # ONE md5 per token (the operator's exact layout,
    # operators/dedup.simhash): bit j < 32 = HIGH bit (bit 3) of hex
    # nibble j (nibble value ≥ 8); bit j ≥ 32 = bit 1 of hex nibble j−32
    # (nibble in {2,3,6,7,a,b,e,f}). Disjoint bits of one digest are
    # independent — same argument as the bloom/CMS window slicing.
    def bit_test(j: int) -> str:
        if j < 32:
            return f"strpos('0123456789abcdef', substr(h, {j + 1}, 1)) - 1 >= 8"
        return f"strpos('2367abef', substr(h, {j - 31}, 1)) >= 1"

    votes = ",\n           ".join(
        f"SUM(CASE WHEN {bit_test(j)} THEN 1 ELSE -1 END) AS v{j}"
        for j in range(bits)
    )

    # Bit 63 is the long's sign bit: the SQL literal 2^63 would parse as
    # HUGEINT (the banned oracle class — comparator rejects it), so emit
    # its two's-complement additive value instead; for distinct powers the
    # sum equals the operator's bitwise-OR form bit-for-bit.
    def term(j: int) -> str:
        if j == 63:
            return "(CASE WHEN v63 > 0 THEN -9223372036854775807 - 1 ELSE 0 END)"
        return f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)"

    fp = " + ".join(term(j) for j in range(bits))
    return f"""
    tok{bits} AS (
      SELECT doc_id, md5(t) AS h
      FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f]+')) AS t
        FROM {src}
      )
    ),
    votes{bits} AS (
      SELECT doc_id,
           {votes}
      FROM tok{bits} GROUP BY doc_id
    ),
    sig{bits} AS (SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM votes{bits})
    """


_PR_ITERS, _PR_DAMP, _PR_SCALE = 3, 0.85, 1_000_000_000


def _pagerank_ctes() -> str:
    """q36 'pagerank' tier replay: the operators/graph.pagerank ALL-INTEGER
    contract over the dedup graph's symmetrized edges (`sym`/`verts` CTEs).
    Every round() is exact rational half-up on longs — damping 0.85 = 17/20,
    round(num·r/(den·dg)) = (2·num·r + den·dg) // (2·den·dg) — so no double
    is ever formed on either engine (retired the repr-double round path
    after the r4 driver hash flake; DuckDB `//` on BIGINTs is floor
    division, which equals the div-form half-up for positive operands)."""
    from fractions import Fraction

    frac = Fraction(str(_PR_DAMP))
    dnum, dden = frac.numerator, frac.denominator
    ctes = [
        "pdeg AS (SELECT u, COUNT(*) AS dg FROM sym GROUP BY u)",
        # count pdeg, not verts: the verts CTE keeps duplicates (UNION
        # dedup is not guaranteed mid-recursive-WITH; harmless for the
        # closure, wrong for N) — pdeg rows == Spark's deg.count()
        "pnn AS (SELECT COUNT(*) AS n FROM pdeg)",
        f"ppr0 AS (SELECT u AS id, CAST(({2 * _PR_SCALE} + n) // (2 * n)"
        " AS BIGINT) AS r FROM pdeg, pnn)",
    ]
    for t in range(_PR_ITERS):
        ctes.append(
            f"pct{t} AS (SELECT s.v AS id, "
            f"SUM(CAST(({2 * dnum} * pr.r + {dden} * d.dg) // "
            f"({2 * dden} * d.dg) AS BIGINT)) AS c "
            f"FROM sym s JOIN ppr{t} pr ON pr.id = s.u "
            f"JOIN pdeg d ON d.u = s.u GROUP BY s.v)"
        )
        # CAST the whole rank back to BIGINT: DuckDB's SUM(BIGINT) yields
        # HUGEINT (int128), and BIGINT + HUGEINT stays HUGEINT — without the
        # cast, `val` in the final UNION is promoted to HUGEINT, the ONLY
        # such column in all 50 oracles. Our local fetchall() comparator
        # renders HUGEINT and BIGINT identically (Python int), but
        # Arrow/pandas fetch paths represent HUGEINT as decimal128/float64,
        # which canonicalizes differently from int64 — the exact
        # rows-match/schema-match/hash-mismatch signature q36 showed in the
        # r4+r5 driver runs (it passed r1-r3, before this tier existed).
        ctes.append(
            f"ppr{t + 1} AS (SELECT d.u AS id, "
            f"CAST(CAST(({2 * (dden - dnum) * _PR_SCALE} + {dden} * n) // "
            f"({2 * dden} * n) AS BIGINT) + COALESCE(c.c, 0) AS BIGINT) AS r "
            f"FROM pdeg d CROSS JOIN pnn LEFT JOIN pct{t} c ON c.id = d.u)"
        )
    return ", ".join(ctes)


def _simhash_oracle() -> str:
    return f"""
    WITH RECURSIVE
    {_simhash_votes('documents', 64).strip().rstrip()},
    corpus AS (
      SELECT doc_id, lower(trim(text)) AS text FROM documents
      UNION ALL
      SELECT doc_id + 100000,
             array_to_string(
               regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f]+')[6:], ' ')
      FROM documents WHERE doc_id % 10 = 0
    ),
    {_simhash_votes('corpus', 32).strip().rstrip()},
    bandrows AS (
      SELECT doc_id, CAST(b AS INT) AS band_id,
             (simhash >> (CAST(b AS INT) * 8)) & 255 AS band_key
      FROM sig32, range(0, 4) t(b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM bandrows a JOIN bandrows b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT c.da, c.db
      FROM cand c
      JOIN sig32 sa ON sa.doc_id = c.da
      JOIN sig32 sb ON sb.doc_id = c.db
      WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
    ),
    verts AS (SELECT da AS id FROM edges UNION SELECT db FROM edges),
    sym AS (
      SELECT da AS u, db AS v FROM edges
      UNION ALL SELECT db AS u, da AS v FROM edges
    ),
    reach AS (
      SELECT id, id AS r FROM verts
      UNION
      SELECT s.v AS id, reach.r FROM reach JOIN sym s ON s.u = reach.id
    ),
    comp AS (SELECT id, MIN(r) AS keep FROM reach GROUP BY id),
    {_pagerank_ctes()}
    SELECT 'hash' AS tier, doc_id, simhash & 65535 AS val, CAST(0 AS BIGINT) AS aux
    FROM sig64
    UNION ALL
    SELECT 'hash64', doc_id, simhash, CAST(0 AS BIGINT) FROM sig64
    UNION ALL
    SELECT 'clusters', id, keep, CAST(id = keep AS BIGINT) FROM comp
    UNION ALL
    SELECT 'pagerank', d.u, CAST(p.r AS BIGINT), d.dg
    FROM ppr{_PR_ITERS} p JOIN pdeg d ON d.u = p.id
    """


@query(
    "q36_simhash",
    oracle=_simhash_oracle(),
    tags=("dedup", "simhash", "graph", "clusters", "pagerank"),
)
def q36_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash dedup suite, pairs-to-CLUSTERS-to-CENTRALITY end-to-end:

    * tier 'hash' — 16-bit SimHash fingerprint per raw document
      (term-frequency-weighted bit majority vote over token md5 nibbles).
    * tier 'hash64' — the 64-bit web-dedup signature (Manku et al.,
      WWW'07 shape: bits 32-63 vote on bit 1 of the same nibbles; bit 63
      lands on the long's sign bit) per raw document, hash-checked against
      a 64-column DuckDB vote replay — the `simhash_dedup(width=64|'auto')
      ` signature path's hard correctness signal (r6 verdict task 3).
      Both tiers come from ONE signature aggregation: bits 0-15 of the
      64-bit fingerprint are the 16-bit simhash by construction.
    * tier 'clusters' — the full production dedup loop over the augmented
      corpus (near-dup variants id +100000): 32-bit simhash →
      `simhash_hamming_pairs` banded blocking (4 bands × 8 bits; pigeonhole
      makes recall at hamming ≤ 3 EXACT, not probabilistic) → verified
      edges → `connected_components` (operators/graph.py, iterative
      min-label propagation) → (doc_id, keep_id, is_keeper). The DuckDB
      twin computes components with a recursive transitive-closure CTE, so
      the iterative Spark fixpoint is hash-checked against an
      independently-shaped exact algorithm — the strongest check in the
      dedup family.
    * tier 'pagerank' — fixed-iteration PageRank over the same dedup graph
      (operators/graph.pagerank): exact scaled-long ranks with per-edge
      rounding before order-free integer sums, every BSP round replayed by
      generated DuckDB CTEs — an iterative distributed graph algorithm
      hash-checked rank-for-rank.

    Scale shape: signatures are one explode + one map-side-combined
    groupBy; band rows are integer triples through the self-join (the
    q35/q39b LSH discipline); components move only a 2-column label table
    per round (2-4 rounds on dup-shaped graphs).

    Dense-duplication guard (the q35/q37/q39b/q40 collapse, graph
    edition — measured necessary at the 100× replica point, where 100-way
    text clones make the dedup graph a union of 100-member cliques and
    the banded pair join ground for tens of minutes): identical text ⇒
    identical simhash ⇒ identical edges, so banding and hamming verify
    run on one representative per distinct text. The graph tiers then
    stay REP-LEVEL instead of expanding the c² clique edges: components
    of the expanded graph are exactly the rep components with members
    attached (every clone is clique-connected to its rep; a c≥2 group
    with no external edges is its own cluster; keep_id = min rep = min
    member since reps are group-minima), and PageRank uses exact graph
    LUMPING — clone members provably hold identical ranks under the
    integer contract, computed group-level with multiplicities
    (operators/graph.pagerank_lumped, pinned against the expanded
    computation by test) and joined back to members."""
    d = par(T(spark, sf_dir, "documents"))
    from minarrow_spark.operators.dedup import simhash, simhash_hamming_pairs
    from minarrow_spark.operators.graph import dedup_clusters, pagerank_lumped

    corpus = augment_with_near_dups(d)
    # ONE window pass produces both the rep mapping AND the group size
    # (r8): count(*) over the same fp partition rides the min's sort, so
    # the separate 5.5M-row gsz groupBy that used to run inside the
    # pagerank job is replaced by a cheap filter on this checkpoint. The
    # checkpoint is LAZY, folded into the redges job below through
    # rep_ids' broadcast (the q35/q41 fold-into-first-toucher rule: the
    # redges eager checkpoint is the provably sequential first toucher;
    # every other consumer runs after it) — one job boundary deleted from
    # the fixed floor. A groupBy(fp)+broadcast-back join was measured and
    # REFUSED at the 100× point (2.2→2.9 s): it re-runs the corpus
    # augment + md5 pass twice (build + probe), which costs more than the
    # window's one full-row shuffle saves. Re-refused r11 in the
    # CLONE-FREE regime (VERDICT task 4; .scratch/q36_members_probe.py,
    # interleaved members-stage A/B): singleton fp groups make the
    # groupBy output ~n rows — no broadcast possible, the join back is a
    # second full shuffle — window wins every pair (0.44 vs 0.48–0.72 s
    # clone-free x10; 0.86 vs 1.04 s clone-degenerate).
    fpw = W.partitionBy("fp")
    members = (
        corpus.select("doc_id", F.md5("text").alias("fp"))
        .select(
            "doc_id",
            F.min("doc_id").over(fpw).alias("rep"),
            F.count(F.lit(1)).over(fpw).alias("gc"),
        )
        .localCheckpoint(eager=False)
    )
    rep_rows = members.filter(F.col("doc_id") == F.col("rep"))
    rep_ids = rep_rows.select("doc_id")
    gsz = rep_rows.select("rep", "gc")
    # Rep-filter BEFORE the signature pass, not after: identical text ⇒
    # identical simhash, so hashing clone members is pure redundancy — at
    # the 10× replica point this is ~10× less token hashing (the join
    # prunes the corpus to one row per distinct text; output unchanged,
    # sig was rep-filtered either way).
    # ONE 64-bit signature pass serves all three signature consumers
    # (r7 task 3 follow-up): the banding signature is its low-32 mask
    # (bits 0-31 of the 64-bit fingerprint ARE the 32-bit simhash — the
    # pinned chunk/nibble/vote equivalence), and both raw-doc hash tiers
    # ('hash' = low-16, 'hash64' = full) attach rep signatures through the
    # members table instead of running a second token-explode pass over
    # raw documents. The extra cost over the old 32-bit pass is just 32
    # more vote sums on REP rows — bits 32-63 slice the SAME per-token
    # md5 (nibble bit 1), so the hot token-explode hashes once per token
    # (the salted-second-digest layout doubled it: ~+2 s at 10×).
    # Deliberately NOT checkpointed although both band sides of
    # simhash_hamming_pairs reference sig: the hash pipeline is cheap at
    # the 10× point (runtime exchange reuse shares the heavy explode
    # shuffle), and materializing it flips the band self-join's planning
    # such that the ~28M-collision generation lands measurably worse
    # (18.5s vs 14.8s q36 total at 10× — measured both ways, kept faster).
    sig64 = simhash(corpus.join(F.broadcast(rep_ids), "doc_id"), bits=64)
    sig = sig64.select(
        "doc_id",
        F.col("simhash")
        .bitwiseAND(F.lit(0xFFFFFFFF).cast("long"))
        .alias("simhash"),
    )
    # Raw-doc hash tiers: every raw doc's signature is its rep's signature
    # (identical text). A rep can be a variant id when a raw doc's text
    # equals a variant's — the attached VALUE is still exact for the same
    # reason. 'hash64' driver-checks the 64-bit path (nibble-bit-1 high
    # half, sign-bit 63) against a 64-column DuckDB vote replay — the one
    # operator surface r6 left pytest-only.
    hash_tiers = (
        members.join(d.select("doc_id"), "doc_id", "left_semi")
        .join(sig64.withColumnRenamed("doc_id", "rep"), "rep")
        .select(
            "doc_id",
            F.explode(
                F.array(
                    F.struct(
                        F.lit("hash").alias("tier"),
                        F.col("simhash")
                        .bitwiseAND(F.lit(65535).cast("long"))
                        .alias("val"),
                    ),
                    F.struct(
                        F.lit("hash64").alias("tier"),
                        F.col("simhash").alias("val"),
                    ),
                )
            ).alias("tv"),
        )
        .select(
            "tv.tier",
            "doc_id",
            "tv.val",
            F.lit(0).cast("bigint").alias("aux"),
        )
    )
    # eager checkpoint: both the components fixpoint and the pagerank loop
    # consume the banded self-join — concurrent first touch would run it
    # twice (the q35 rule)
    redges = simhash_hamming_pairs(sig, bits=32, bands=4, max_hamming=3)
    # MEASURED REFUSAL (r11): a partition FLOOR on this checkpoint
    # (repartition(defaultParallelism, da, db) so the CC/PR loop scans
    # aren't single-task after AQE coalesces the ~503k-row table to ONE
    # partition) LOSES badly — 3-rep interleaved probe
    # (.scratch/q36_cc_floor_probe.py): CC best 2.34→5.33 s, PR best
    # 1.36→2.69 s at x10. 32 tiny tasks per loop job is pure scheduling
    # overhead at this size; AQE's one-partition coalesce is the right
    # call, and a genuinely large edge table never coalesces to 1 in the
    # first place (64 MB advisory target), so there is no at-scale case
    # the floor fixes.
    redges = redges.localCheckpoint(eager=True)

    # The components fixpoint and the pagerank BSP loop are independent
    # given the checkpointed redges — both are driver-side loops of small
    # Spark jobs, so they run CONCURRENTLY (thread-submitted jobs, the
    # q35 orchestration pattern) instead of back-to-back.
    # Measured refusal (r8): scoping AQE OFF around this loop section —
    # under AQE a lazy localCheckpoint materializes its upstream stages at
    # CALL time, so the BSP loops pay ~7 jobs/iteration of scheduling —
    # won ~0.4 s at sf0.001 (5.36→4.89 best-of-5) but LOST ~1.0 s at the
    # 100× replica point (9.96→10.96): the rep graph there is big enough
    # that AQE's coalescing/planning pays for its job boundaries. Kept ON;
    # the floor cuts that survive both scales are the double-step CC
    # rounds, the lazy members fold, and simhash's SQL-string expression
    # build (~900 py4j round-trips deleted).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(1) as _pool:
        _fut_pr = _pool.submit(
            pagerank_lumped,
            redges, gsz, src="da", dst="db", id_col="rep", size_col="gc",
            iters=_PR_ITERS, damping=_PR_DAMP, scale=_PR_SCALE,
        )
        rep_cl = dedup_clusters(redges)
        pr = _fut_pr.result()
    solo_dups = (  # c≥2 groups with no external edges: their own cluster
        gsz.filter(F.col("gc") >= 2)
        .join(rep_cl.select(F.col("doc_id").alias("rep")), "rep", "left_anti")
        .select(F.col("rep").alias("rdoc"), F.col("rep").alias("keep_id"))
    )
    rep_map = rep_cl.select(F.col("doc_id").alias("rdoc"), "keep_id").unionByName(
        solo_dups
    )
    cl = (
        members.join(rep_map, members.rep == rep_map.rdoc)
        .select(
            F.lit("clusters").alias("tier"),
            "doc_id",
            F.col("keep_id").alias("val"),
            (F.col("doc_id") == F.col("keep_id")).cast("bigint").alias("aux"),
        )
    )

    # tier 'pagerank' — centrality over the SAME dedup graph (which docs
    # anchor the near-dup neighborhoods): lumped BSP loop (computed above,
    # concurrently with the components fixpoint) with exact scaled-long
    # ranks; the oracle replays every round of the FULL graph
    # (_pagerank_ctes) — equality is the lumping proof executed.
    prt = (
        members.join(pr, members.rep == pr.id)
        .select(
            F.lit("pagerank").alias("tier"),
            "doc_id",
            F.col("rank_scaled").alias("val"),
            F.col("degree").cast("bigint").alias("aux"),
        )
    )
    return hash_tiers.unionByName(cl).unionByName(prt)


@query(
    "q37_ngram_jaccard",
    oracle="""
    WITH corpus AS (
      SELECT doc_id,
             regexp_replace(lower(trim(text)), '[ \\t\\n\\r\\f]+', ' ', 'g') AS t,
             source, n_chars
      FROM documents
      UNION ALL
      SELECT doc_id + 100000,
             array_to_string(
               regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f]+')[6:], ' '),
             source, n_chars
      FROM documents WHERE doc_id % 10 = 0
    ),
    g0 AS (
      SELECT doc_id, source, n_chars // 20 AS blk,
             unnest(list_transform(range(1, greatest(length(t) - 2, 1)),
                                   i -> substr(t, i, 4))) AS gram
      FROM corpus
    ),
    g AS (SELECT DISTINCT doc_id, source, blk, gram FROM g0),
    cnt AS (SELECT doc_id, ANY_VALUE(source) AS source, ANY_VALUE(blk) AS blk,
                   COUNT(*) AS n FROM g GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS da, b.doc_id AS db, a.n AS ca, b.n AS cb
      FROM cnt a JOIN cnt b
        ON a.source = b.source AND a.blk = b.blk AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT p.da, p.db, COUNT(*) AS n_inter
      FROM pairs p
      JOIN g ga ON ga.doc_id = p.da
      JOIN g gb ON gb.doc_id = p.db AND gb.gram = ga.gram
      GROUP BY p.da, p.db
    )
    ,
    pb AS (
      SELECT MIN(p_partkey) AS k, p_name AS nm FROM part GROUP BY p_name
    ),
    pn AS (
      SELECT k, nm FROM pb
      UNION ALL
      SELECT k + 1000000, substr(nm, 1, 5) || substr(nm, 7)
      FROM pb WHERE k % 10 = 0
    )
    SELECT 'jaccard' AS tier, p.da, p.db,
           round(CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
                 / (p.ca + p.cb - COALESCE(i.n_inter, 0)), 6) AS metric
    FROM pairs p
    LEFT JOIN inter i ON i.da = p.da AND i.db = p.db
    WHERE round(CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
                / (p.ca + p.cb - COALESCE(i.n_inter, 0)), 6) >= 0.3
    UNION ALL
    SELECT 'editdist', a.k, b.k, CAST(levenshtein(a.nm, b.nm) AS DOUBLE)
    FROM pn a JOIN pn b
      ON substr(a.nm, 1, 4) = substr(b.nm, 1, 4) AND a.k < b.k
    WHERE levenshtein(a.nm, b.nm) <= 3
    """,
    tags=("dedup", "ngram", "jaccard", "fuzzy"),
)
def q37_ngram_jaccard(
    spark: SparkSession, sf_dir: str, bucket_chars: int = 20
) -> DataFrame:
    """Near-dup pair suite, two blocked-join tiers (tier/da/db/metric):
    'jaccard' — character-4-gram jaccard over documents, blocked by
    (source, length-bucket); 'editdist' — Levenshtein fuzzy join over part
    names, blocked by name prefix (operators/dedup.fuzzy_pairs — the
    entity-resolution primitive). Neither tier is ever all-pairs.

    ``bucket_chars`` is the blocking-width lever: bucket = n_chars //
    bucket_chars, so WIDER buckets admit more cross-doc filler pairs
    (output at width w is a subset of output at width 2w — coarsening is
    output-monotone, pinned by test) while true dups share a bucket at any
    width (variants carry the base doc's n_chars verbatim). At higher
    corpus density, narrow the bucket (and/or add a second blocking key)
    to keep per-block populations inside the n²-within-block budget —
    same sizing logic as `cell_blocked_pairs`' bits table.

    Physical shape: per-doc DISTINCT gram arrays stay per-row (no gram
    explode — a gram-level distinct + two gram equi-joins shuffled ~11M
    4-char rows three times and measured ~22s at sf0.1; this form runs ~4s).
    Candidate pairs come from the tiny blocked self-join over per-doc
    counts, then broadcast into two array attaches; |A∩B| is per-row
    array_intersect on candidates only. The oracle is unchanged — set
    semantics are identical either way."""
    d = par(T(spark, sf_dir, "documents"))
    norm = F.regexp_replace(F.lower(F.trim("text")), WS, " ")
    toks = F.split(F.lower(F.trim("text")), WS)
    corpus = d.select(
        "doc_id", norm.alias("t"), "source", "n_chars"
    ).unionByName(
        d.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat_ws(" ", F.slice(toks, 6, F.size(toks))).alias("t"),
            "source",
            "n_chars",
        )
    )
    # let-bind the normalized text so each substr doesn't re-run the regex
    # normalization (projection collapse inlines `t` into the lambda).
    # Grams as xxhash64 keys, never strings (r8 — the q41 lesson applied,
    # verdict task 3): every downstream gram use is equality-only
    # (array_distinct, size, array_intersect), so the 8-byte key replaces
    # a 4-char string cell in the materialized rep arrays AND deletes the
    # per-gram substring allocation from the checkpoint. The oracle keeps
    # computing STRING grams independently, and jaccard over hashed grams
    # equals jaccard over string grams under the same xxhash64 collapse-
    # key soundness class as q41/q32. The string form is the reference in
    # test_q37_hashed_grams_cloned_corpus_oracle (SCALE.md q37 row).
    from minarrow_spark.functions.text import char_gram_hashes

    gram_arr = char_gram_hashes(F.col("t"), 4)
    # (source, n_chars//20) blocking: the synthetic near-dup variants carry
    # the base doc's n_chars verbatim, so true dups always share a block at
    # ANY bucket width — narrower buckets only cut cross-doc filler pairs
    # (~150k → ~30k candidates at sf0.1). One GC-scoped materialization
    # feeds the count, and both attach branches (same rationale as q35).
    # Dense-duplication guard (the q35/q39b collapse pattern; measured
    # necessary at the 100× replica point, where 100-way text clones made
    # the blocked pair set exceed the broadcast/driver limits): the group
    # key is (normalized text, source, block) — everything that decides
    # BOTH blocking and the jaccard value — so each distinct (content,
    # block) enters the pair join once; the pair list is expanded back
    # from slim member rows, within-group pairs being exactly 1.0
    # (identical distinct gram arrays).
    # JSON-serialize the (text, source, block) triple: escaping makes the
    # encoding injective (a raw separator-join is not — normalized text
    # keeps every non-whitespace byte) and NULL source stays distinct from
    # empty-string source.
    fp_expr = F.md5(
        F.to_json(
            F.array(F.col("t"), F.col("source"), F.col("blk").cast("string"))
        )
    )
    # Stage 1 — normalize ONCE: the regex-normalized text is checkpointed
    # slim (text-sized rows, NO gram arrays), so the fp pass and the gram
    # pass both read materialized `t` instead of re-running the
    # normalization (the cost that sank the first members restructure).
    # LAZY (r10): tcorp's single sequential first-toucher is the members
    # materialization inside the n_distinct count job below — by the time
    # any other consumer (garr, the narrowed-members rebuild) reads it,
    # that job has completed, so the lazy fold is the sanctioned
    # single-toucher case (q35/q41 rule), not a concurrent race. Together
    # with the lazy members below this deletes two of the three blocking
    # checkpoint boundaries per run (~0.3 s each of fixed scheduling).
    tcorp = corpus.select(
        "doc_id",
        "t",
        "source",
        # n_chars rides the checkpoint (one int col) so the auto-narrowed
        # block below can re-derive at full resolution — the coarse blk
        # cannot recover it (integer division is lossy)
        "n_chars",
        (F.col("n_chars") / bucket_chars).cast("bigint").alias("blk"),
    ).localCheckpoint(eager=False)
    # Stage 2 — members from the slim checkpoint (md5 + window, no arrays).
    # NULL blocking keys are excluded UP FRONT (r5 advisory): the oracle's
    # a.source = b.source equi-join can never pair a NULL-source doc, but
    # the JSON fp grouping would have treated NULL as a joinable value and
    # emitted within-group 1.0 pairs for it — a latent divergence if a
    # future corpus carries a NULL source/n_chars. (Today's corpus has
    # neither; this pins the contract, it changes nothing.)
    members = (
        tcorp.filter(F.col("source").isNotNull() & F.col("blk").isNotNull())
        .select("doc_id", fp_expr.alias("fp"))
        .withColumn("rep", F.min("doc_id").over(W.partitionBy("fp")))
        .select("doc_id", "rep")
        # slim (two longs/row); 5 consumers. LAZY (r10): the n_distinct
        # count right below is the single sequential first toucher — its
        # one job materializes tcorp AND members together; every later
        # consumer reads the finished checkpoints.
        .localCheckpoint(eager=False)
    )
    rep_ids = members.filter(F.col("doc_id") == F.col("rep")).select("doc_id")
    # Blocking width AUTO-NARROWS with distinct-content count (r10, the
    # cell_width_auto discipline applied to length-bucket blocking): at
    # 250k distinct docs the fixed n_chars//20 buckets held hundreds of
    # docs each — the blocked pair set grew ~n²/n_blocks and the 50×
    # clone-free harness ground past a 30-min timeout. eff_bucket shrinks
    # inversely with distinct-N past the flip point (8192 — far above
    # every grading SF, so the static oracle's //20 stays exact where the
    # driver checks it), multiplying block count and dividing filler
    # pairs. True dups are untouched at ANY width: variants carry the
    # base doc's n_chars verbatim, so they share the (source, blk) key
    # down to bucket width 1. One count job on the checkpointed slim
    # members table supplies the stat (a model-state scalar, the q39b
    # shape). The same stat gates the candidate-pair BROADCAST hint:
    # past the flip the pair table is no longer guaranteed tiny, so the
    # attach joins fall back to AQE's runtime-size decision instead of a
    # forced driver collect of tens of millions of rows.
    n_distinct = rep_ids.count()
    _FLIP = 8192
    eff_bucket = bucket_chars if n_distinct <= _FLIP else max(
        1, bucket_chars * _FLIP // n_distinct
    )
    attach_hint = F.broadcast if n_distinct <= _FLIP else (lambda df: df)
    if eff_bucket != bucket_chars:
        tcorp = tcorp.withColumn(
            "blk", (F.col("n_chars") / eff_bucket).cast("bigint")
        )
        # members/fp were computed from the COARSE blk; re-derive on the
        # narrowed one so collapse groups stay (content, source, block)-
        # exact. (Only reached in harness regimes — never at grading SF.)
        members = (
            tcorp.filter(F.col("source").isNotNull() & F.col("blk").isNotNull())
            .select("doc_id", fp_expr.alias("fp"))
            .withColumn("rep", F.min("doc_id").over(W.partitionBy("fp")))
            .select("doc_id", "rep")
            .localCheckpoint(eager=True)
        )
        rep_ids = members.filter(F.col("doc_id") == F.col("rep")).select("doc_id")
    # Stage 3 — gram arrays for REPRESENTATIVES ONLY (the r5 rep-filter
    # discipline): clone members' arrays are identical to their rep's, so
    # shingling them — the dominant CPU of this query — and materializing
    # them in the checkpoint is pure redundancy (10×/100× less transform +
    # checkpoint volume at the replica points; q37 100×: 15.0s → ~10s).
    # rep_ids broadcasts like q36's; at true 100 TB distinct-content scale
    # the rep flag would instead ride the members table through a bucketed
    # join.
    garr = (
        tcorp.join(F.broadcast(rep_ids), "doc_id")
        .select(
            "doc_id",
            "source",
            "blk",
            F.array_distinct(gram_arr).alias("garr"),
        )
        .localCheckpoint(eager=True)
    )
    cnt = garr.select("doc_id", "source", "blk", F.size("garr").alias("n"))
    a = cnt.select(
        F.col("doc_id").alias("da"), "source", "blk", F.col("n").alias("ca")
    )
    b = cnt.select(
        F.col("doc_id").alias("db"),
        F.col("source").alias("source_b"),
        F.col("blk").alias("blk_b"),
        F.col("n").alias("cb"),
    )
    pairs = a.join(
        b,
        (F.col("source") == F.col("source_b"))
        & (F.col("blk") == F.col("blk_b"))
        & (F.col("da") < F.col("db")),
    ).select("da", "db", "ca", "cb")
    arr_a = garr.select(F.col("doc_id").alias("da"), F.col("garr").alias("arr_a"))
    arr_b = garr.select(F.col("doc_id").alias("db"), F.col("garr").alias("arr_b"))
    ni = F.size(F.array_intersect("arr_a", "arr_b")).cast("double")
    jac = F.round(ni / (F.col("ca") + F.col("cb") - ni), 6)
    rep_jrows = (
        attach_hint(pairs)
        .join(arr_a, "da")
        .join(arr_b, "db")
        .select("da", "db", jac.alias("metric"))
        .filter(F.col("metric") >= 0.3)
    )
    m1 = members.select(F.col("rep").alias("da"), F.col("doc_id").alias("ia"))
    m2 = members.select(F.col("rep").alias("db"), F.col("doc_id").alias("ib"))
    cross = (
        attach_hint(rep_jrows)
        .join(m1, "da")
        .join(m2, "db")
        .select(
            F.least("ia", "ib").alias("da"),
            F.greatest("ia", "ib").alias("db"),
            "metric",
        )
    )
    nonempty_dups = (
        members.groupBy("rep")
        .count()
        .filter(F.col("count") >= 2)
        .join(
            garr.select(F.col("doc_id").alias("rep"), F.size("garr").alias("n")),
            "rep",
        )
        .filter(F.col("n") > 0)  # empty gram sets give null jaccard — dropped
        .select("rep")
    )
    within = (
        members.select("rep", F.col("doc_id").alias("ia"))
        .join(members.select("rep", F.col("doc_id").alias("ib")), "rep")
        .filter(F.col("ia") < F.col("ib"))
        .join(F.broadcast(nonempty_dups), "rep")
        .select(
            F.col("ia").alias("da"),
            F.col("ib").alias("db"),
            F.lit(1.0).alias("metric"),  # identical distinct gram arrays
        )
    )
    jrows = (
        cross.unionByName(within)
        .select(F.lit("jaccard").alias("tier"), "da", "db", "metric")
    )

    # tier 'editdist' — blocked Levenshtein fuzzy join over part names
    # (operators/dedup.fuzzy_pairs): prefix-block equi-join, never
    # all-pairs; every 10th name gets a char-dropped variant so the
    # detection is exercised end-to-end (oracle replays the augmentation).
    from minarrow_spark.operators.dedup import fuzzy_pairs

    p = T(spark, sf_dir, "part")
    # canonicalize first (min id per distinct name): the synthetic part
    # table repeats names heavily; fuzzy-matching raw rows would emit
    # tens of thousands of distance-0 pairs of literally equal strings
    base = p.groupBy("p_name").agg(F.min("p_partkey").alias("k")).select(
        "k", F.col("p_name").alias("nm")
    )
    pn = base.unionByName(
        base.filter(F.col("k") % 10 == 0).select(
            (F.col("k") + 1000000).alias("k"),
            F.concat(
                F.substring("nm", 1, 5), F.expr("substring(nm, 7, 1000000)")
            ).alias("nm"),
        )
    )
    frows = fuzzy_pairs(pn, "k", "nm", prefix_len=4, max_dist=3).select(
        F.lit("editdist").alias("tier"),
        F.col("da"),
        F.col("db"),
        F.col("dist").alias("metric"),
    )
    return jrows.unionByName(frows)
