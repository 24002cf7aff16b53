"""Scale-layout operators: bucketed shuffle-free joins and skew salting.

The bucketing test asserts on the *plan* (no Exchange on either join side),
not just the result — the layout exists to delete shuffles, so the plan is
the contract. Salting tests assert exact result equality with the unsalted
form: salt must never change semantics.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from minarrow_spark.operators.skew import salted_agg, salted_join
from minarrow_spark.sources.bucketing import read_table, write_bucketed
from minarrow_spark.sources.catalog import load_table


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    # managed tables land in the default warehouse dir; DROP TABLE below
    # removes the files (spark-warehouse/ is gitignored for safety)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(o, "b_orders", "o_orderkey", n_buckets=4)
    write_bucketed(l, "b_lineitem", "l_orderkey", n_buckets=4)
    bo, bl = read_table(spark, "b_orders"), read_table(spark, "b_lineitem")
    # disable broadcast so the join would otherwise need a full shuffle
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bl.join(bo, bl.l_orderkey == bo.o_orderkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        # and it computes the same thing as the unbucketed join
        plain = l.join(o, l.l_orderkey == o.o_orderkey)
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_salted_agg_matches_plain(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    from minarrow_spark.functions.arithmetic import dec

    salted = salted_agg(
        l,
        ["l_returnflag"],
        partial_aggs=[
            F.count(F.lit(1)).alias("c"),
            F.sum(dec("l_quantity")).alias("s"),
        ],
        merge_aggs=[
            F.sum("c").cast("bigint").alias("n"),
            F.sum("s").cast("double").alias("total_qty"),
        ],
        n_salts=16,
    )
    plain = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("l_quantity")).cast("double").alias("total_qty"),
    )
    assert _canon(salted) == _canon(plain)


def test_salted_join_matches_plain(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    salted = salted_join(
        o.withColumnRenamed("o_custkey", "c_custkey"), c, "c_custkey", n_salts=8
    )
    plain = o.join(c, o.o_custkey == c.c_custkey).select(
        "c_custkey", "o_orderkey", "c_mktsegment"
    )
    assert salted.count() == plain.count()
    assert _canon(salted.select("o_orderkey", "c_mktsegment")) == _canon(
        plain.select("o_orderkey", "c_mktsegment")
    )


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    from minarrow_spark.sources.bucketing import write_partitioned

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    path = str(tmp_path / "lineitem_by_flag")
    write_partitioned(l, path, "l_returnflag")
    back = spark.read.parquet(path)
    pruned = back.filter(F.col("l_returnflag") == "A")
    # the contract: the predicate lands in PartitionFilters (directory-level
    # pruning before any IO), not in the data-filter list
    formatted = pruned._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters: [isnotnull(l_returnflag" in formatted, formatted
    assert pruned.count() == l.filter(F.col("l_returnflag") == "A").count()


def test_minhash_composed_equals_fused(spark, sf_dir):
    """The composable pieces (minhash_signatures → lsh_candidates →
    jaccard_pairs_arr) and the fused minhash_lsh_jaccard operator share one
    hash definition and must produce identical near-dup pairs — users can
    mix tiers without changing results."""
    from minarrow_spark.operators.dedup import (
        augment_with_near_dups,
        doc_shingle_arrays,
        jaccard_pairs_arr,
        lsh_candidates,
        minhash_lsh_jaccard,
        minhash_signatures,
    )

    docs = augment_with_near_dups(load_table(spark, sf_dir, "documents"))
    dsa = doc_shingle_arrays(docs, k=3)
    sig = minhash_signatures(dsa, num_hashes=8)
    cands = lsh_candidates(sig, num_hashes=8, band_size=2)
    composed = jaccard_pairs_arr(cands, dsa).select("da", "db", "jaccard")
    fused = minhash_lsh_jaccard(docs, k=3, num_hashes=8, band_size=2)
    assert _canon(composed) == _canon(fused)


def test_minhash_exact_collapse_equivalence(spark, sf_dir):
    """collapse_exact must be a pure work optimization: on a corpus where
    every doc has an exact clone (the dense-duplication case it exists
    for — c-way clone clusters put c identical signatures in every LSH
    bucket, c² candidate pairs uncollapsed), the collapsed pipeline's
    pair list is bit-identical to the direct one, including the
    within-clone jaccard=1.0 pairs and every cross-clone expansion."""
    from minarrow_spark.operators.dedup import (
        augment_with_near_dups,
        minhash_lsh_jaccard,
    )

    docs = augment_with_near_dups(load_table(spark, sf_dir, "documents"))
    corpus = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + 10_000_000)
    )
    collapsed = minhash_lsh_jaccard(corpus, collapse_exact=True)
    direct = minhash_lsh_jaccard(corpus, collapse_exact=False)
    rc, rd = _canon(collapsed), _canon(direct)
    assert rc == rd
    assert any(j == 1.0 for _, _, j in rc)  # clone pairs present


def test_cell_blocked_exact_collapse_equivalence(spark, sf_dir):
    """Same contract for the embedding-cell family: collapse_exact must be
    a pure work optimization — identical pair lists (incl. the clone
    self-sim pairs) on a corpus where every vector has an exact clone."""
    from minarrow_spark.operators.similarity import cell_blocked_pairs

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    corpus = e.unionByName(
        e.withColumn("vec_id", F.col("vec_id") + 10_000_000)
    )
    rc = _canon(cell_blocked_pairs(corpus, collapse_exact=True))
    rd = _canon(cell_blocked_pairs(corpus, collapse_exact=False))
    assert rc == rd
    assert len(rc) > 0


def test_collapse_equivalence_mixed_multiplicity(spark, sf_dir):
    """Uniform 2× cloning can't catch group-size-dependent expansion bugs;
    this corpus mixes multiplicities 1/2/3 per doc (doc_id mod 3) so
    groups of every size interact across and within blocks."""
    from minarrow_spark.operators.dedup import (
        augment_with_near_dups,
        minhash_lsh_jaccard,
    )

    docs = augment_with_near_dups(load_table(spark, sf_dir, "documents"))
    parts = [docs]
    for i, m in ((1, 1), (2, 2)):  # doc_id%3==1 → +1 clone, ==2 → +2 clones
        for j in range(m):
            parts.append(
                docs.filter(F.col("doc_id") % 3 == i).withColumn(
                    "doc_id", F.col("doc_id") + 10_000_000 * (j + 1)
                )
            )
    corpus = parts[0]
    for p in parts[1:]:
        corpus = corpus.unionByName(p)
    rc = _canon(minhash_lsh_jaccard(corpus, collapse_exact=True))
    rd = _canon(minhash_lsh_jaccard(corpus, collapse_exact=False))
    assert rc == rd
    assert any(j == 1.0 for _, _, j in rc)


def test_bpe_token_count_semantics(spark):
    """BPE-ish pre-tokenizer contract (functions/text.py BPE_PATTERN):
    contractions split off, whitespace merges into the following token,
    letter/digit/punct runs are separate tokens, '' counts zero."""
    from minarrow_spark.functions.text import bpe_token_count

    cases = [
        ("it's 2024, isn't it?", 8),  # it|'s| 2024|,| isn|'t| it|?
        ("hello world", 2),
        ("abc123", 2),                # abc|123
        ("a  b", 2),                  # runs of spaces merge forward
        ("", 0),
        ("?!?", 1),                   # one punct run
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], ["text"])
    got = {
        r["text"]: r["n"]
        for r in df.select("text", bpe_token_count(F.col("text")).alias("n")).collect()
    }
    for text, want in cases:
        assert got[text] == want, (text, got[text], want)


def test_par_guard_is_noop_when_parallel(spark, sf_dir):
    """par() must repartition only under-parallel scans: a DataFrame that
    already has >= defaultParallelism partitions passes through with NO
    added exchange (the 100 TB case), while a single-partition scan gains
    cluster parallelism."""
    from minarrow_spark.queries._util import T, par

    target = spark.sparkContext.defaultParallelism
    docs = T(spark, sf_dir, "documents")
    assert par(docs).rdd.getNumPartitions() >= min(target, 2)
    wide = docs.repartition(target + 4)
    # already-parallel input: par() returns the SAME plan, no new exchange
    assert par(wide) is wide


def test_int8_quantization_bounds_error_and_preserves_topk(spark, sf_dir):
    """int8 scalar quantization: per-element reconstruction error is bounded
    by scale/2, and brute-force top-10 over dequantized vectors recalls
    >=90% of the exact neighbors (the coarse-search-then-rerank contract)."""
    from pyspark.sql import functions as F

    from minarrow_spark.operators.similarity import (
        brute_force_topk,
        dequantize_embeddings,
        quantize_embeddings,
    )
    from minarrow_spark.sources.catalog import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = dequantize_embeddings(quantize_embeddings(e))

    err = q.select(
        F.max(
            F.aggregate(
                F.zip_with(
                    F.col("embedding").cast("array<double>"),
                    F.col("embedding_hat"),
                    lambda a, b: F.abs(a - b),
                ),
                F.lit(0.0),
                lambda acc, x: F.greatest(acc, x),
            )
            - F.col("q_scale") / 2
        ).alias("excess")
    ).first()["excess"]
    assert err <= 1e-9, f"reconstruction error exceeds scale/2 by {err}"

    probes = lambda df, c: df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col(c).alias("q_vec")
    )
    exact = brute_force_topk(probes(e, "embedding"), e, k=10)
    approx = brute_force_topk(
        probes(q, "embedding_hat"),
        q.select("vec_id", F.col("embedding_hat").alias("embedding")),
        k=10,
    )
    ex = {(r.q_id, r.vec_id) for r in exact.collect()}
    ap = {(r.q_id, r.vec_id) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.9, f"quantized top-k recall {recall:.2f} < 0.9"


def test_quantization_edge_vectors(spark):
    """Constant vectors (scale 0) must round-trip exactly; negative-valued
    vectors must stay within the scale/2 bound."""
    from pyspark.sql import functions as F

    from minarrow_spark.operators.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    rows = [
        (1, [2.5] * 8),            # constant → scale 0
        (2, [-1.0, -0.5, 0.0, 0.25, 0.5, 1.0, -0.75, 0.125]),
        (3, [0.0] * 8),            # constant zero
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    quantized = quantize_embeddings(df)
    # Codes are a genuine 1-byte column — the 4x at-rest claim depends on it.
    assert dict(quantized.dtypes)["codes"] == "array<tinyint>"
    out = dequantize_embeddings(quantized).collect()
    by_id = {r.vec_id: r for r in out}
    assert by_id[1].embedding_hat == [2.5] * 8
    assert all(-128 <= c <= 127 for r in out for c in r.codes)
    assert by_id[3].embedding_hat == [0.0] * 8
    r2 = by_id[2]
    bound = r2.q_scale / 2 + 1e-12
    assert all(
        abs(a - b) <= bound for a, b in zip(r2.embedding, r2.embedding_hat)
    )


def test_normalize_text_catalyst_and_nfc(spark):
    """Catalyst normalization strips controls/zero-widths and collapses
    whitespace; the Arrow NFC pass makes composed/decomposed forms hash
    identically (the invisible-variant dedup failure mode)."""
    from pyspark.sql import functions as F

    from minarrow_spark.functions.text import normalize_text, normalize_text_nfc

    rows = [
        (1, "a\x00b​c   d\te\r\nf"),
        (2, "café again"),      # decomposed é
        (3, "café again"),        # precomposed é
        (4, None),
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    out = {
        r.id: r.norm
        for r in df.select("id", normalize_text(F.col("text")).alias("norm")).collect()
    }
    assert out[1] == "abc d e f"
    assert out[4] is None

    nfc = {r.id: r.text for r in normalize_text_nfc(df).collect()}
    assert nfc[2] == nfc[3] == "café again"
    assert nfc[4] is None
    # r9 ASCII fast path: a pure-ASCII frame passes through untouched (the
    # batch short-circuit — every normalization form is identity on ASCII),
    # indistinguishable from full normalization. Nulls ride along.
    ascii_rows = [(i, f"plain ascii {i}") for i in range(5)] + [(99, None)]
    adf = spark.createDataFrame(ascii_rows, ["id", "text"])
    assert {r.id: r.text for r in normalize_text_nfc(adf).collect()} == dict(
        ascii_rows
    )
    # NFD on a mixed batch: only the non-ASCII value changes
    nfd = {r.id: r.text for r in normalize_text_nfc(df, form="NFD").collect()}
    import unicodedata

    assert nfd[3] == unicodedata.normalize("NFD", "café again")
    assert nfd[2] == nfd[3]


def test_q34_variants_actually_collapse(spark, sf_dir):
    """The q34 oracle replicates the normalize pipeline, so a broken
    normalizer could still hash-match — pin the SEMANTICS here: dirty
    (zero-width/control/whitespace) variants land in the base doc's
    fingerprint group, and the composed/decomposed NFC pair merges."""
    from pyspark.sql import functions as F

    from minarrow_spark.registry import all_queries

    # tier filter: the fold tier's slot-mapped columns (keep_id=first_id,
    # n_copies=band_id) would otherwise leak into these counts (r9)
    out = all_queries()["q34_dedup_exact"].fn(spark, sf_dir).filter(
        F.col("tier") == "exact"
    )
    trip = out.filter(F.col("n_copies") >= 3).count()
    n_tenth = out.sparkSession.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") % 10 == 0
    ).count()
    # every 10th doc: base + exact copy + dirty copy in ONE group
    assert trip >= n_tenth
    # NFC pair groups: keep_id in the +400000 range with exactly 2 copies
    nfc_pairs = out.filter(
        (F.col("keep_id") >= 400000) & (F.col("keep_id") < 500000)
        & (F.col("n_copies") == 2)
    ).count()
    n_twentieth = out.sparkSession.read.parquet(
        f"{sf_dir}/documents.parquet"
    ).filter(F.col("doc_id") % 20 == 0).count()
    assert nfc_pairs == n_twentieth


def test_cell_blocking_width_monotone(spark, sf_dir):
    """Blocking width is the documented selectivity lever: widening the
    sign-bit cell (more bits) can only DROP pairs, never add or change one
    (output at b+k bits is a subset of output at b bits), and the synthetic
    near-dups — perturbed only on dim 1, outside every cell — survive at
    both widths."""
    from pyspark.sql import functions as F

    from minarrow_spark.operators.similarity import cell_blocked_pairs
    from minarrow_spark.sources.catalog import load_table

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    variants = e.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("emb", 1) + 0.5), F.slice("emb", 2, 63)
        ).alias("emb"),
    )
    corpus = e.unionByName(variants)
    narrow = {
        (r.va, r.vb, r.sim)
        for r in cell_blocked_pairs(corpus, cell_lo=2, cell_hi=9).collect()
    }
    wide = {
        (r.va, r.vb, r.sim)
        for r in cell_blocked_pairs(corpus, cell_lo=2, cell_hi=13).collect()
    }
    assert wide <= narrow
    true_pairs = {
        (r.vec_id, r.vec_id + 100000)
        for r in e.filter(F.col("vec_id") % 10 == 0).select("vec_id").collect()
    }
    for pairs in (narrow, wide):
        found = {(a, b) for a, b, _ in pairs}
        assert true_pairs <= found


def test_cell_width_auto_thresholds():
    """The blocking-width chooser's decision rule (r10): min-width below
    the flip point (so static 8-bit oracles stay exact at every grading
    SF), ceil(log2(n/budget)) above it, clamped, and monotone in n."""
    from minarrow_spark.operators.similarity import cell_width_auto

    # grading-SF corpora (≤ 2200 distinct) sit far below the flip point
    for n in (0, 1, 55, 550, 2200, 8192):
        assert cell_width_auto(n) == 8, n
    assert cell_width_auto(8193) == 9
    assert cell_width_auto(100_000) == 12  # the clone-free 50× corpus
    assert cell_width_auto(110_000) == 12
    assert cell_width_auto(1_000_000) == 15
    assert cell_width_auto(10**12) == 24  # max_bits clamp
    # budget and clamps are honored
    assert cell_width_auto(100_000, candidate_budget=100) == 10
    assert cell_width_auto(100_000, min_bits=14) == 14
    assert cell_width_auto(10**9, max_bits=16) == 16
    # monotone in n
    prev = 0
    for n in (10, 10**3, 10**4, 10**5, 10**6, 10**8):
        b = cell_width_auto(n)
        assert b >= prev
        prev = b


def test_cell_width_auto_resolves_like_fixed(spark, sf_dir):
    """cell_hi='auto' at grading SF must resolve to the same 8-bit width —
    and therefore the exact same pairs — as the explicit cell_hi=9 the
    oracle replays."""
    from minarrow_spark.operators.similarity import cell_blocked_pairs

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    fixed = {
        (r.va, r.vb, r.sim)
        for r in cell_blocked_pairs(e, cell_lo=2, cell_hi=9).collect()
    }
    auto = {
        (r.va, r.vb, r.sim)
        for r in cell_blocked_pairs(e, cell_lo=2, cell_hi="auto").collect()
    }
    assert auto == fixed


def test_cell_oracle_regen_at_wider_width(spark, sf_dir):
    """The 'oracle regen is a parameter change' proof (r10 verdict task 1/2
    class): when the width chooser flips past 8 bits at harness scale, the
    DuckDB twin regenerates by changing the SAME width parameter in the
    SAME CTE — checked here by running both engines at 12 bits (dims 2-13)
    and comparing exactly, the q40 shape."""
    import duckdb

    from minarrow_spark.operators.similarity import cell_blocked_pairs
    from minarrow_spark.queries.similarity import _cell_sql
    from tests.oracle_utils import duckdb_conn

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    got = {
        (r.va, r.vb, r.sim)
        for r in cell_blocked_pairs(e, cell_lo=2, cell_hi=13).collect()
    }
    con = duckdb_conn(sf_dir)
    want = {
        tuple(row)
        for row in con.execute(
            f"""
            WITH v AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
            ),
            cells AS (
              SELECT vec_id, emb, {_cell_sql('emb', 2, 13)} AS cell FROM v
            ),
            pairs AS (
              SELECT a.vec_id AS va, b.vec_id AS vb,
                     round(list_cosine_similarity(a.emb, b.emb), 6) AS sim
              FROM cells a JOIN cells b
                ON a.cell = b.cell AND a.vec_id < b.vec_id
            )
            SELECT va, vb, sim FROM pairs WHERE sim >= 0.8
            """
        ).fetchall()
    }
    con.close()
    assert got == want


def test_ngram_bucket_width_monotone(spark, sf_dir):
    """q37's length-bucket width: coarser buckets (larger bucket_chars)
    admit a superset of pairs; true dup pairs appear at every width."""
    from minarrow_spark.registry import all_queries

    fn = all_queries()["q37_ngram_jaccard"].fn
    at20 = {(r.da, r.db) for r in fn(spark, sf_dir, bucket_chars=20).collect()}
    at40 = {(r.da, r.db) for r in fn(spark, sf_dir, bucket_chars=40).collect()}
    assert at20 <= at40
    assert any(db == da + 100000 for da, db in at20)


def test_int8_codes_shrink_parquet_at_rest(spark, sf_dir, tmp_path):
    """The 4x-at-rest claim, measured: tinyint codes parquet vs the float32
    embedding parquet for the same vectors (plus per-vector offset/scale).
    Compression narrows the naive 4x, so assert a conservative >=2.5x."""
    from pyspark.sql import functions as F

    from minarrow_spark.operators.similarity import quantize_embeddings
    from minarrow_spark.sources.catalog import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    fdir, qdir = str(tmp_path / "f32"), str(tmp_path / "int8")
    e.coalesce(1).write.parquet(fdir)
    quantize_embeddings(e).select(
        "vec_id", "q_offset", "q_scale", "codes"
    ).coalesce(1).write.parquet(qdir)

    import pathlib

    size = lambda d: sum(
        p.stat().st_size for p in pathlib.Path(d).glob("*.parquet")
    )
    f32, int8 = size(fdir), size(qdir)
    assert f32 > 0 and int8 > 0
    assert f32 / int8 >= 2.5, f"f32={f32}B int8={int8}B ratio={f32/int8:.2f}"


# --------------------------------------------------------------------------
# Product quantization (PQ) + PII scrub primitives
# --------------------------------------------------------------------------


def test_pq_codebook_shape_and_determinism(spark, sf_dir):
    """Codebook bounded by m·2^bits·sub_dim rows; centroids identical under
    any input partitioning (the decimal-partial-sum contract)."""
    from minarrow_spark.operators.similarity import pq_centroids, pq_codes

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    cent1 = pq_centroids(e, vec_col="emb")
    cent2 = pq_centroids(e.repartition(7), vec_col="emb")
    rows1, rows2 = _canon(cent1), _canon(cent2)
    assert rows1 == rows2  # bit-identical across partitionings
    assert len(rows1) <= 8 * 4 * 8
    codes = pq_codes(e, id_col="vec_id", vec_col="emb")
    n = e.count()
    assert codes.count() == n * 8  # m rows per vector
    assert codes.agg(F.max("cell")).collect()[0][0] <= 3  # 2 sign bits


def test_pq_adc_prefers_identical_vector(spark, sf_dir):
    """ADC of a vector against its own subspace centroids must rank a
    bit-identical duplicate above an unrelated vector (smoke semantics:
    the coarse score is meaningful, not just deterministic)."""
    from minarrow_spark.operators.similarity import pq_cell_keys

    e = load_table(spark, sf_dir, "embeddings").limit(50).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    keyed = e.select("vec_id", pq_cell_keys(F.col("emb")).alias("cells"))
    dup = keyed.filter(F.col("vec_id") == 0).select(F.col("cells").alias("c0"))
    same = keyed.join(dup, F.col("cells") == F.col("c0")).count()
    assert same >= 1  # the vector itself always lands in its own cells


def test_redact_pii_roundtrip(spark):
    from minarrow_spark.functions.text import pii_counts, redact_pii

    df = spark.createDataFrame(
        [
            ("mail bob.smith@corp.io now", 1, 0, 0),
            ("call 415-555-0123 or 415-555-9999", 0, 2, 0),
            ("host 10.0.3.77 up", 0, 0, 1),
            ("clean text only", 0, 0, 0),
            ("x@y.io 1.2.3.4 999-111-2222", 1, 1, 1),
        ],
        ["t", "em", "ph", "ip"],
    )
    cts = pii_counts(F.col("t"))
    got = df.select(
        cts["n_emails"].alias("em2"),
        cts["n_phones"].alias("ph2"),
        cts["n_ips"].alias("ip2"),
        redact_pii(F.col("t")).alias("red"),
        "em", "ph", "ip",
    ).collect()
    for r in got:
        assert (r.em2, r.ph2, r.ip2) == (r.em, r.ph, r.ip), r
        assert "@" not in r.red
        assert "555-0123" not in r.red and "10.0.3.77" not in r.red


# --------------------------------------------------------------------------
# Z-order (Morton) layout
# --------------------------------------------------------------------------


def test_z_value_matches_reference(spark):
    from minarrow_spark.operators.zorder import z_py, z_value

    rows = [(x, y) for x in (0, 1, 5, 37, 255) for y in (0, 2, 9, 128, 255)]
    df = spark.createDataFrame(rows, ["x", "y"])
    got = df.select("x", "y", z_value(F.col("x"), F.col("y")).alias("z")).collect()
    for r in got:
        assert r.z == z_py(r.x, r.y), (r.x, r.y, r.z)


def test_zorder_layout_locality(spark, sf_dir):
    """Range-partitioning by the Morton code must give partitions tight
    bounding boxes in BOTH folded dimensions — the property that turns
    into parquet min/max file skipping for 2-D range predicates. A naive
    layout's per-partition boxes cover ~the full 0..255 range on at least
    one axis; z-ordered partitions must average well under that."""
    import statistics

    from minarrow_spark.operators.zorder import zorder_layout

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    laid = zorder_layout(
        o, "o_custkey", "o_orderkey", n_partitions=16, x_mod=256, y_mod=256
    )
    parts = (
        laid.select(
            F.spark_partition_id().alias("p"),
            (F.col("o_custkey") % 256).alias("x"),
            (F.col("o_orderkey") % 256).alias("y"),
        )
        .groupBy("p")
        .agg(
            (F.max("x") - F.min("x")).alias("xr"),
            (F.max("y") - F.min("y")).alias("yr"),
        )
        .collect()
    )
    assert len(parts) >= 8  # the range exchange actually spread the data
    avg_side = statistics.mean((r.xr + r.yr) / 2 for r in parts)
    assert avg_side <= 180, [(r.p, r.xr, r.yr) for r in parts]


# --------------------------------------------------------------------------
# Count-min sketch
# --------------------------------------------------------------------------


def test_cms_overestimates_and_is_partition_invariant(spark, sf_dir):
    from minarrow_spark.operators.sketch import cms_build, cms_estimate

    l = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    sk1 = cms_build(l, "l_partkey")
    sk2 = cms_build(l.repartition(11), "l_partkey")
    assert _canon(sk1) == _canon(sk2)      # mergeable partials → same sketch
    assert sk1.count() <= 4 * 256          # fixed size at any corpus size

    exact = l.groupBy("l_partkey").count().orderBy(F.desc("count"), "l_partkey")
    top = exact.limit(10).select("l_partkey", F.col("count").alias("n_exact"))
    est = cms_estimate(sk1, top.select("l_partkey"), "l_partkey")
    rows = top.join(est, "l_partkey").collect()
    assert len(rows) == 10
    n_total = l.count()
    for r in rows:
        assert r.cms_est >= r.n_exact, r            # CMS never underestimates
        # ε = e/w bound with generous slack (deterministic hashes, fixed data)
        assert r.cms_est <= r.n_exact + 0.05 * n_total, r


# --------------------------------------------------------------------------
# Global ranking without a single-reducer window
# --------------------------------------------------------------------------


def test_global_ranks_matches_single_window(spark, sf_dir):
    from pyspark.sql import Window as W

    from minarrow_spark.operators.ranking import global_ranks

    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    order = [F.col("c_acctbal").desc(), F.col("c_custkey")]
    two_phase = global_ranks(c, order, n_partitions=7)
    naive = c.withColumn(
        "grank", F.row_number().over(W.orderBy(*order)).cast("bigint")
    )
    assert _canon(two_phase.select("c_custkey", "grank")) == _canon(
        naive.select("c_custkey", "grank")
    )


def test_ntile_from_rank_matches_sql_ntile(spark):
    from pyspark.sql import Window as W

    from minarrow_spark.operators.ranking import ntile_from_rank

    for n, k in ((17, 4), (16, 4), (3, 4), (100, 7), (1, 1)):
        df = spark.range(1, n + 1).select(F.col("id").alias("v"))
        naive = df.select(
            "v", F.ntile(k).over(W.orderBy("v")).cast("bigint").alias("t")
        )
        derived = df.select(
            "v",
            ntile_from_rank(F.col("v"), F.lit(n).cast("bigint"), k).alias("t"),
        )
        assert _canon(naive) == _canon(derived), (n, k)


def test_arrow_cosine_matches_hof_cosine(spark, sf_dir):
    """The Arrow-batched numpy cosine (hot-path form) and the HOF
    aggregate/zip_with form agree after the 6-digit rounding grid on real
    embeddings — the determinism argument both rest on (sum-order δ ~1e-15
    ≪ grid). Checked value-for-value on all pairs of a sample, plus edge
    vectors (zero vector → null/NaN-free handling by the cell join never
    feeds zero-norm rows; here we assert the dot/norm contract only on
    non-zero rows)."""
    from pyspark.sql import functions as F

    from minarrow_spark.operators.similarity import cosine_sim_arrow, cosine_sim_sql

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(40)
    )
    a = emb.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
    pairs = a.join(b, F.col("va") < F.col("vb"))
    both = pairs.select(
        "va",
        "vb",
        F.expr(cosine_sim_sql("`ea`", "`eb`")).alias("hof"),
        cosine_sim_arrow(6)(F.col("ea"), F.col("eb")).alias("arrow"),
    ).collect()
    assert len(both) == 40 * 39 // 2
    diff = [r for r in both if r["hof"] != r["arrow"]]
    assert not diff, f"cosine forms diverge on {len(diff)} pairs: {diff[:3]}"


def test_arrow_cosine_contract_enforced(spark):
    """r5 advisory: cosine_sim_arrow's contract is ENFORCED, not just
    documented — zero-norm rows yield a real SQL NULL (matching
    cosine_sim_sql's divide-by-zero semantics), and null or ragged embedding
    arrays raise a clear error instead of an opaque np.stack failure."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from minarrow_spark.operators.similarity import cosine_sim_arrow, cosine_sim_sql

    rows = [
        (1, [1.0, 2.0, 3.0], [1.0, 2.0, 3.0]),
        (2, [0.0, 0.0, 0.0], [1.0, 2.0, 3.0]),  # zero norm → NULL
        (3, [1.0, 0.0, 0.0], [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(
        rows, "id long, a array<double>, b array<double>"
    )
    got = {
        r.id: (r.arrow, r.hof)
        for r in df.select(
            "id",
            cosine_sim_arrow(6)(F.col("a"), F.col("b")).alias("arrow"),
            F.expr(cosine_sim_sql("`a`", "`b`")).alias("hof"),
        ).collect()
    }
    assert got[1] == (1.0, 1.0)
    assert got[2] == (None, None)
    assert got[3] == (0.0, 0.0)

    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0], [1.0, 2.0, 3.0])], "id long, a array<double>, b array<double>"
    )
    with _pytest.raises(Exception, match="shape mismatch|PythonException"):
        ragged.select(cosine_sim_arrow(6)(F.col("a"), F.col("b"))).collect()

    nullarr = spark.createDataFrame(
        [(1, None, [1.0, 2.0, 3.0])], "id long, a array<double>, b array<double>"
    )
    with _pytest.raises(Exception, match="null embedding|PythonException"):
        nullarr.select(cosine_sim_arrow(6)(F.col("a"), F.col("b"))).collect()


def test_q39_zero_norm_embedding_yields_null_under_ansi(spark, tmp_path):
    """q39's pair similarity keeps cosine_sim_sql's try_divide contract: a
    zero-norm embedding gives its pairs a NULL sim under ANSI (where a plain
    `/ 0.0` fails the whole query with DIVIDE_BY_ZERO), and the other pairs
    keep their values."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from minarrow_spark.registry import all_queries

    corpus = str(tmp_path / "zero_norm")
    os.makedirs(corpus)
    pq.write_table(
        pa.table({
            "vec_id": pa.array([1, 2, 3], pa.int64()),
            "embedding": pa.array(
                [[1.0, 0.0], [0.0, 0.0], [1.0, 1.0]], pa.list_(pa.float32())
            ),
            "label": pa.array([0, 1, 0], pa.int32()),
        }),
        f"{corpus}/embeddings.parquet",
    )
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        rows = all_queries()["q39_similar_pairs"].fn(spark, corpus).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)
    got = {(r.va, r.vb): r.sim for r in rows}
    assert got == {(1, 3): round(2 ** -0.5, 6), (1, 2): None, (2, 3): None}


def test_simhash_width_auto_rule():
    """Decision rule pinned to the SCALE.md record: upgrade to 64/4x16
    needs BOTH large distinct-N (collision budget exceeded at 1024
    buckets) and long docs (hamming<=3 of 64 is ~2x stricter — short-doc
    near-dups flip more bits)."""
    from minarrow_spark.operators.dedup import simhash_width_auto

    assert simhash_width_auto(1_400, 100.0) == (32, 4)       # sf0.01 shape
    assert simhash_width_auto(10_000_000, 100.0) == (32, 4)  # huge N, short
    assert simhash_width_auto(1_400, 900.0) == (32, 4)       # long, small N
    assert simhash_width_auto(10_000_000, 900.0) == (64, 4)  # web-scale
    # threshold edge: budget*256/4 with default budget 100 -> N > 6400
    assert simhash_width_auto(6_400, 256.0) == (32, 4)
    assert simhash_width_auto(6_401, 256.0) == (64, 4)
    assert simhash_width_auto(6_401, 255.9) == (32, 4)


def test_simhash_64bit_extends_32bit(spark, sf_dir):
    """Bits 0..31 of the 64-bit signature equal the 32-bit signature
    bit-for-bit (both vote from the high bit of the SAME md5 nibbles;
    bits 32+ read nibble bit 1) — so widening never silently changes
    the low-band keys, and 64-bit values actually exercise the high
    longs (incl. the sign bit, OR-accumulated)."""
    from pyspark.sql import functions as F

    from minarrow_spark.operators.dedup import simhash

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(64)
    s32 = simhash(d, bits=32).withColumnRenamed("simhash", "s32")
    s64 = simhash(d, bits=64).withColumnRenamed("simhash", "s64")
    rows = s32.join(s64, "doc_id").collect()
    assert rows
    mask = (1 << 32) - 1
    for r in rows:
        assert (r.s64 & mask) == (r.s32 & mask), (r.doc_id, r.s32, r.s64)
    assert any(r.s64 & ~mask for r in rows), "high 32 bits never set"


def test_simhash_dedup_both_widths_cluster_clones(spark, sf_dir):
    """simhash_dedup finds exact-clone clusters at BOTH widths (identical
    text => identical signature at any width => hamming 0), and width
    'auto' picks 32/4x8 on this short-doc corpus, reporting the stats it
    decided from."""
    from pyspark.sql import functions as F

    from minarrow_spark.operators.dedup import simhash_dedup

    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .limit(50)
    )
    corpus = d.unionByName(
        d.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    expected_pairs = {
        r.doc_id for r in d.filter(F.col("doc_id") % 10 == 0).collect()
    }
    # clone pairs must CO-CLUSTER (same keep_id); the corpus may carry
    # genuine cross-doc near-dups too, so keep_id need not equal base
    for width in (32, 64):
        clusters, info = simhash_dedup(corpus, width=width)
        assert info["chosen_bits"] == width
        got = {r.doc_id: r.keep_id for r in clusters.collect()}
        for base in expected_pairs:
            assert base in got and (base + 100000) in got, (width, base)
            assert got[base] == got[base + 100000], (width, base)
    clusters, info = simhash_dedup(corpus, width="auto")
    assert info["chosen_bits"] == 32 and info["bands"] == 4
    assert info["distinct_n"] > 0 and info["median_tokens"] > 0
    got = {r.doc_id: r.keep_id for r in clusters.collect()}
    for base in expected_pairs:
        assert got[base] == got[base + 100000]


def test_simhash_width_auto_64bit_end_to_end(spark, sf_dir):
    """The 64-bit upgrade path FIRES end-to-end and its output verifies
    against a regenerated DuckDB twin (r10 verdict task 2: the chooser was
    unit-tested but no run ever reached the 64/4×16 regime). Corpus: docs
    stretched 5× (median ≈ 280 tokens ≥ the 256 gate) plus 1-token-drop
    near-dup variants; collision_budget lowered so the 500-doc corpus
    crosses the distinct-N gate the way a web-scale corpus crosses the
    default one. The DuckDB twin is the q36 oracle CTE regenerated for
    the wider width — exactly the documented two-line change: the banding
    CTE reads 16-bit windows of sig64 instead of 8-bit windows of sig32
    (`(simhash >> b*16) & 65535`), everything else identical."""
    from minarrow_spark.functions.text import WS, tokens
    from minarrow_spark.operators.dedup import simhash_dedup
    from minarrow_spark.queries.dedup import _simhash_votes
    from tests.oracle_utils import duckdb_conn

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.select(
        "doc_id", F.concat_ws(" ", *(["text"] * 5)).alias("text")
    )
    toks = tokens(F.col("text"))
    variant = base.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 2, F.size(toks))).alias("text"),
    )
    corpus = base.unionByName(variant)
    clusters, info = simhash_dedup(corpus, width="auto", collision_budget=7)
    assert info["chosen_bits"] == 64 and info["bands"] == 4, info
    assert info["median_tokens"] >= 256, info
    got = {(r.doc_id, r.keep_id) for r in clusters.collect()}
    # 1-token-drop variants of ~280-token docs stay within hamming 3 of 64
    # for at least some docs — the graph is non-empty, so the comparison
    # below is not vacuous
    assert got, "no 64-bit near-dup edges found — corpus construction broke"

    con = duckdb_conn(sf_dir)
    sql = f"""
    WITH RECURSIVE
    longd AS (
      SELECT doc_id,
             lower(trim(text || ' ' || text || ' ' || text || ' ' || text
                        || ' ' || text)) AS text
      FROM documents
    ),
    corpus AS (
      SELECT doc_id, text FROM longd
      UNION ALL
      SELECT doc_id + 100000,
             array_to_string(
               regexp_split_to_array(text, '{WS}')[2:], ' ')
      FROM longd WHERE doc_id % 10 = 0
    ),
    {_simhash_votes('corpus', 64).strip().rstrip()},
    bandrows AS (
      SELECT doc_id, CAST(b AS INT) AS band_id,
             (simhash >> (CAST(b AS INT) * 16)) & 65535 AS band_key
      FROM sig64, range(0, 4) t(b)
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
      JOIN sig64 sa ON sa.doc_id = c.da
      JOIN sig64 sb ON sb.doc_id = c.db
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
    comp AS (SELECT id, MIN(r) AS keep FROM reach GROUP BY id)
    SELECT id, keep FROM comp
    """
    want = set(map(tuple, con.execute(sql).fetchall()))
    con.close()
    assert got == want


def test_q32_collapse_cloned_corpus_oracle(spark, sf_dir, tmp_path):
    """q32's exact-content collapse vs the DuckDB oracle on a CLONED corpus
    (the CLAUDE.md rule: verify any new collapse family on cloned data
    BEFORE trusting it at scale). Mixed multiplicities (doc_id%3 -> 1/2/3
    copies) exercise group-size-dependent paths — vocab counts (cw*gc),
    4-gram doc-frequency (sum gc; a gram whose only rep has gc>=2 IS
    shared -> clones flag as boilerplate), and the member expansion.
    Clones get a DIFFERENT source, so per-source attribution must ride the
    raw doc row, not the rep."""
    import os

    import duckdb

    from minarrow_spark.registry import all_queries
    from minarrow_spark.sources.catalog import TABLES, table_path
    from tests.oracle_utils import compare, duckdb_conn

    clone_dir = str(tmp_path / "q32_clones")
    os.makedirs(clone_dir)
    src_docs = table_path(sf_dir, "documents")
    con0 = duckdb.connect()
    con0.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{src_docs}')
          UNION ALL
          SELECT doc_id + 10000000, text, lang, 'clone_a' AS source, n_chars
          FROM read_parquet('{src_docs}') WHERE doc_id % 3 IN (1, 2)
          UNION ALL
          SELECT doc_id + 20000000, text, lang, 'clone_b' AS source, n_chars
          FROM read_parquet('{src_docs}') WHERE doc_id % 3 = 2
        ) TO '{clone_dir}/documents.parquet' (FORMAT PARQUET)
        """
    )
    con0.close()
    for t in TABLES:
        if t != "documents":
            os.symlink(table_path(sf_dir, t), table_path(clone_dir, t))

    q = all_queries()["q32_quality_score"]
    ok, msg = compare(q.fn(spark, clone_dir), duckdb_conn(clone_dir), q.oracle)
    assert ok, msg


def test_pq_adc_lut_equals_join_form(spark, sf_dir):
    """q38b's LUT-form ADC is an associativity-only regrouping of the
    dim-level decimal sum: assert the scaled-long LUT score equals the
    legacy join+agg decimal ADC x 10^10 for EVERY (probe, vector) pair —
    the strong form of the claim the top-k oracle check samples."""
    from minarrow_spark.operators.similarity import (
        pq_adc_lut,
        pq_cell_keys,
        pq_centroids,
        pq_codes,
    )
    from minarrow_spark.sources.catalog import load_table

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_vec")
    )
    cent = pq_centroids(e, vec_col="emb")

    codes = pq_codes(e, id_col="vec_id", vec_col="emb")
    qdims = probes.select(
        "q_id", F.posexplode("q_vec").alias("d", "qx")
    ).select(
        "q_id",
        (F.col("d") / 8).cast("int").alias("s"),
        (F.col("d") % 8).alias("ds"),
        "qx",
    )
    join_adc = {
        (r["q_id"], r["vec_id"]): int(r["adc"].scaleb(10))
        for r in (
            codes.join(F.broadcast(cent), ["s", "cell"])
            .join(F.broadcast(qdims), ["s", "ds"])
            .groupBy("q_id", "vec_id")
            .agg(
                F.sum((F.col("qx") * F.col("c")).cast("decimal(18,10)")).alias("adc")
            )
            .collect()
        )
    }

    lut = pq_adc_lut(cent, probes)
    qids = sorted({k[0] for k in lut})
    cells = {
        r["vec_id"]: r["_pqc"]
        for r in e.select("vec_id", pq_cell_keys(F.col("emb")).alias("_pqc")).collect()
    }
    assert len(lut) == len(qids) * 8 * len({k[2] for k in lut})
    for (q, vid), want in join_adc.items():
        got = sum(lut[(q, s, cells[vid][s])] for s in range(8))
        assert got == want, (q, vid, got, want)


def test_shingle_hashes_mirror_string_shingles(spark, sf_dir):
    """`shingle_hashes` must produce the same WINDOWS as `shingles` (same
    count, same per-doc distinct count — i.e. hashing is injective on the
    real corpus) so q41's hashed-gram pipeline counts exactly what the
    string-gram oracle counts."""
    from minarrow_spark.functions.text import shingle_hashes, shingles
    from minarrow_spark.sources.catalog import load_table

    d = load_table(spark, sf_dir, "documents").select(
        F.lower(F.trim("text")).alias("text")
    )
    both = d.select(
        F.size(shingles(F.col("text"), 8)).alias("ns"),
        F.size(shingle_hashes(F.col("text"), 8)).alias("nh"),
        F.size(F.array_distinct(shingles(F.col("text"), 8))).alias("ds"),
        F.size(F.array_distinct(shingle_hashes(F.col("text"), 8))).alias("dh"),
    )
    bad = both.filter(
        (F.col("ns") != F.col("nh")) | (F.col("ds") != F.col("dh"))
    ).count()
    assert bad == 0


def test_q41_collapse_cloned_corpus_oracle(spark, sf_dir, tmp_path):
    """q41's exact-content collapse + hashed grams vs the DuckDB oracle on
    a CLONED corpus (the CLAUDE.md rule applied to the decontamination
    family). Mixed multiplicities (doc_id%3 -> 1/2/3 copies) exercise the
    multiplicity-sensitive paths: gram doc-frequency df = sum of
    group-size over reps (clones count as documents, shifting every idf
    weight), the train-size N in the idf numerator, and the member
    expansion that must emit one contaminated row per CLONE."""
    import os

    import duckdb

    from minarrow_spark.registry import all_queries
    from minarrow_spark.sources.catalog import TABLES, table_path
    from tests.oracle_utils import compare, duckdb_conn

    clone_dir = str(tmp_path / "q41_clones")
    os.makedirs(clone_dir)
    src_docs = table_path(sf_dir, "documents")
    con0 = duckdb.connect()
    con0.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{src_docs}')
          UNION ALL
          SELECT doc_id + 10000000, text, lang, 'clone_a' AS source, n_chars
          FROM read_parquet('{src_docs}') WHERE doc_id % 3 IN (1, 2)
          UNION ALL
          SELECT doc_id + 20000000, text, lang, 'clone_b' AS source, n_chars
          FROM read_parquet('{src_docs}') WHERE doc_id % 3 = 2
        ) TO '{clone_dir}/documents.parquet' (FORMAT PARQUET)
        """
    )
    con0.close()
    for t in TABLES:
        if t != "documents":
            os.symlink(table_path(sf_dir, t), table_path(clone_dir, t))

    q = all_queries()["q41_decontaminate"]
    ok, msg = compare(q.fn(spark, clone_dir), duckdb_conn(clone_dir), q.oracle)
    assert ok, msg


def test_q37_hashed_grams_cloned_corpus_oracle(spark, sf_dir, tmp_path, monkeypatch):
    """q37's hashed char grams (r8) vs the DuckDB string-gram oracle on a
    CLONED corpus, plus exact hashed-vs-string mode equality. Clones keep
    the SAME source and n_chars, so they land in the SAME (text, source,
    blk) collapse group — the c² pair path the exact-content collapse
    exists to kill — and the within-group 1.0 expansion must emit every
    clone pair the oracle's string-gram join emits."""
    import os

    import duckdb

    from minarrow_spark.registry import all_queries
    from minarrow_spark.sources.catalog import TABLES, table_path
    from tests.oracle_utils import compare, duckdb_conn

    clone_dir = str(tmp_path / "q37_clones")
    os.makedirs(clone_dir)
    src_docs = table_path(sf_dir, "documents")
    con0 = duckdb.connect()
    con0.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{src_docs}')
          UNION ALL
          SELECT doc_id + 10000000, text, lang, source, n_chars
          FROM read_parquet('{src_docs}') WHERE doc_id % 3 IN (1, 2)
          UNION ALL
          SELECT doc_id + 20000000, text, lang, source, n_chars
          FROM read_parquet('{src_docs}') WHERE doc_id % 3 = 2
        ) TO '{clone_dir}/documents.parquet' (FORMAT PARQUET)
        """
    )
    con0.close()
    for t in TABLES:
        if t != "documents":
            os.symlink(table_path(sf_dir, t), table_path(clone_dir, t))

    q = all_queries()["q37_ngram_jaccard"]
    ok, msg = compare(q.fn(spark, clone_dir), duckdb_conn(clone_dir), q.oracle)
    assert ok, msg

    # hashed grams output == string-gram reference output, row for row
    # (q37 imports char_gram_hashes inside its body, so the patch applies)
    import minarrow_spark.functions.text as text_fns

    hashed = {tuple(r) for r in q.fn(spark, clone_dir).collect()}
    monkeypatch.setattr(text_fns, "char_gram_hashes", text_fns.char_grams)
    stringed = {tuple(r) for r in q.fn(spark, clone_dir).collect()}
    assert hashed == stringed and hashed
