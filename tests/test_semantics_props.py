"""Property-based semantics pinning (hypothesis): the reference's
small-array-with-edge-cases unit style (`src/kernels/arithmetic/mod.rs:63-509`
— dense/masked/div-by-zero/negative suites), generalized to random vectors.

Each property batches the generated examples into ONE Spark job per test
(hypothesis drives generation, Spark evaluates the whole batch) and compares
against plain-Python reference semantics:

* floordiv → Python `//` (both round toward −∞), null on zero divisor
* remainder → C semantics (dividend sign), null on zero divisor
* try_div → null on zero divisor, IEEE otherwise
* find0 → Python str.find (0-based, −1 absent)
* char/byte length → len(s) vs len(s.encode())
"""

from __future__ import annotations

import math

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from minarrow_spark.functions.arithmetic import (
    floordiv,
    floordiv_int_sql,
    remainder,
    try_div,
)
from minarrow_spark.functions.strings import byte_length, char_length, find0

INTS = st.integers(min_value=-10_000, max_value=10_000)
# Full signed-64 range minus the lone overflow case (LONG_MIN // -1): pins
# that the integer floordiv path is exact where the double path loses
# precision (|quotient| > 2^53) — the reference's checked signed-int
# FloorDiv (`src/enums/operators.rs:41-47`).
BIGINTS = st.integers(min_value=-(2**63) + 1, max_value=2**63 - 1)
TEXT = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
    max_size=24,
)


def _eval_pairs(spark, pairs, exprs):
    df = spark.createDataFrame(pairs, "a long, b long")
    return df.select(*exprs).collect()


@settings(max_examples=30, deadline=None)
@given(st.lists(st.tuples(INTS, INTS), min_size=1, max_size=50))
def test_int_division_semantics(spark, pairs):
    rows = _eval_pairs(
        spark,
        pairs,
        [
            "a",
            "b",
            floordiv(F.col("a"), F.col("b")).alias("fd"),
            remainder(F.col("a"), F.col("b")).alias("rem"),
            try_div(F.col("a"), F.col("b")).alias("td"),
        ],
    )
    for r in rows:
        if r.b == 0:
            assert r.fd is None and r.rem is None and r.td is None
        else:
            assert r.fd == r.a // r.b, (r.a, r.b, r.fd)
            assert r.rem == int(math.fmod(r.a, r.b)), (r.a, r.b, r.rem)
            assert abs(r.td - r.a / r.b) < 1e-12


@settings(max_examples=25, deadline=None)
@given(st.lists(st.tuples(BIGINTS, BIGINTS), min_size=1, max_size=50))
def test_int_floordiv_exact_full_range(spark, pairs):
    rows = _eval_pairs(
        spark,
        pairs,
        ["a", "b", F.expr(floordiv_int_sql("`a`", "`b`")).alias("fd")],
    )
    for r in rows:
        if r.b == 0:
            assert r.fd is None
        else:
            assert r.fd == r.a // r.b, (r.a, r.b, r.fd)


@settings(max_examples=25, deadline=None)
@given(st.lists(st.tuples(BIGINTS, BIGINTS), min_size=1, max_size=50))
def test_floordiv_sql_twin_matches_column_form(spark, pairs):
    """floordiv_int_sql (the only body of the exact integer floor-division
    contract) must stay value- and type-identical to the Column-operator
    reference below — Spark's truncating `div` adjusted toward −∞ when the
    remainder is nonzero and the signs differ, NULL on a zero divisor —
    over the signed full range including zero divisors."""

    def reference(a, b):
        q = F.call_function("div", a, b)
        adj = F.when(((a % b) != 0) & ((a < 0) != (b < 0)), F.lit(1)).otherwise(
            F.lit(0)
        )
        return F.when(b == 0, F.lit(None).cast("long")).otherwise(q - adj)

    pairs = pairs + [(7, 0), (-7, -2), (7, -2), (-7, 2), (0, 5)]
    df = spark.createDataFrame(pairs, "a long, b long")
    out = df.select(
        reference(F.col("a"), F.col("b")).alias("col_form"),
        F.expr(floordiv_int_sql("`a`", "`b`")).alias("sql_form"),
    )
    assert [f.dataType.simpleString() for f in out.schema.fields] == ["bigint", "bigint"]
    for r in out.collect():
        assert r.col_form == r.sql_form, r


def test_token_count_sql_twin_matches_column_form(spark):
    """token_count_sql must reproduce the Column-operator reference below
    (trim, '' → 0, else size of the WS split) byte-for-byte, including the
    WS pattern string itself: the SQL literal is backslash-escaped so the
    parser yields the IDENTICAL Java regex bytes (an over-escaped class
    would match literal t/n/r/f/backslash characters — caught by the
    hostile rows below; an under-escaped one is regex-equivalent but would
    silently fork the pattern bytes — caught by the round-trip assert)."""
    from minarrow_spark.functions.text import WS, token_count_sql

    def reference(text):
        t = F.trim(text)
        return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, WS))).cast(
            "bigint"
        )

    # The pattern literal inside the emitter must round-trip through the
    # Spark SQL parser to the exact WS bytes the Column reference passes.
    # quoted segments: [1] is the `= ''` empty-string compare, [3] the pattern
    ws_lit = token_count_sql("`text`").split("'")[3]
    assert spark.sql(f"SELECT '{ws_lit}' AS p").first().p == WS

    rows = [
        ("",), ("   ",), ("one",), ("two words",), ("tab\tsep",),
        ("nl\nsep",), ("cr\rsep",), ("ff\fsep",), ("vt\x0bglued",),
        ("donut train fan",),            # t/n/r/f letters: over-escape trap
        ("back\\slash t n r f",),        # literal backslash: over-escape trap
        ("  lead trail  ",), ("mixed \t\n\r\f all",), (None,),
    ]
    df = spark.createDataFrame(rows, "text string")
    out = df.select(
        reference(F.col("text")).alias("col_form"),
        F.expr(token_count_sql("`text`")).alias("sql_form"),
    )
    assert [f.dataType.simpleString() for f in out.schema.fields] == ["bigint", "bigint"]
    for r in out.collect():
        assert r.col_form == r.sql_form, r


def test_cosine_sim_sql_twin_matches_column_form(spark):
    """cosine_sim_sql (the only body of the cosine contract) must stay
    value- and type-identical to the Column-operator reference below,
    including the try_divide zero-norm → NULL contract and float→double
    widening. The DuckDB oracle form (q38/q39 ``_COS``) must give the same
    values, NULL included."""
    import duckdb

    from minarrow_spark.operators.similarity import cosine_sim_sql
    from minarrow_spark.queries.similarity import _COS

    def reference(a, b, digits=6):
        a, b = a.cast("array<double>"), b.cast("array<double>")
        dot = F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
        )
        norm = lambda v: F.sqrt(  # noqa: E731
            F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
        )
        return F.round(F.try_divide(dot, norm(a) * norm(b)), digits)

    rows = [
        (1, [1.0, 2.0, 3.0], [4.0, -5.0, 6.0]),
        (2, [0.0, 0.0, 0.0], [1.0, 1.0, 1.0]),   # zero norm -> NULL
        (3, [1.5, -2.5], [1.5, -2.5]),            # identical -> 1.0
        (4, [1e-8, 1e8], [-1e8, 1e-8]),           # orthogonal -> 0.0
        (5, [0.1, 0.2, 0.3], [0.0, 0.0, 0.0]),    # zero norm other side
        (6, [0.0, 0.0], [0.0, 0.0]),              # both zero -> NULL
    ]
    df = spark.createDataFrame(rows, "id long, a array<float>, b array<float>")
    out = df.select(
        "id",
        reference(F.col("a"), F.col("b")).alias("col_form"),
        F.expr(cosine_sim_sql("`a`", "`b`")).alias("sql_form"),
    )
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "bigint", "double", "double"
    ]
    got = {r.id: r.sql_form for r in out.collect() if r.col_form == r.sql_form}
    assert len(got) == len(rows), got
    assert got[2] is None and got[5] is None and got[6] is None
    assert got[3] == 1.0 and got[4] == 0.0
    con = duckdb.connect()
    oracle = {
        i: con.execute(f"SELECT {_COS.format(a=a, b=b)}").fetchone()[0]
        for i, a, b in rows
    }
    con.close()
    assert oracle == got, oracle


def test_brute_force_topk_quotes_column_names(spark):
    """Column names reach cosine_sim_sql backtick-quoted (embedded backticks
    doubled), so vector/id columns named with a space or a backtick still
    resolve."""
    from minarrow_spark.operators.similarity import brute_force_topk

    cands = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "vec_id long, `cand vec` array<double>",
    )
    probes = spark.createDataFrame([(10, [1.0, 0.1])], "`q id` long, `q``vec` array<double>")
    out = brute_force_topk(
        probes, cands, k=2, q_id="q id", q_vec="q`vec", c_id="vec_id", c_vec="cand vec"
    )
    assert out.columns == ["q id", "vec_id", "sim", "rank"]
    got = [(r["vec_id"], r["sim"], r["rank"]) for r in out.orderBy("rank").collect()]
    norm = math.sqrt(1.01)
    want = [(1, 1.0 / norm, 1), (3, 1.1 / (norm * math.sqrt(2.0)), 2)]
    assert [(v, k) for v, _, k in got] == [(v, k) for v, _, k in want]
    assert all(abs(g[1] - w[1]) < 1e-6 for g, w in zip(got, want)), got


@settings(max_examples=50, deadline=None)
@given(
    st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
    st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
)
def test_hex_threshold_properties(p, q):
    """Sampling threshold invariants (no Spark needed): monotone in the
    fraction, fixed-width (or the keep-all sentinel), and the kept fraction
    of the keyspace equals round(p·16^8)/16^8 exactly."""
    from minarrow_spark.operators.sampling import hex_threshold

    tp, tq = hex_threshold(p), hex_threshold(q)
    if p <= q:
        # "g" sorts after every hex string — mirrors the engine comparison
        assert tp <= tq or tq == "g"
    assert tp == "g" or (len(tp) == 8 and int(tp, 16) == round(p * 16**8))


@settings(max_examples=20, deadline=None)
@given(st.lists(st.tuples(TEXT, st.text(max_size=3)), min_size=1, max_size=30))
def test_string_length_and_find(spark, items):
    df = spark.createDataFrame(items, "s string, needle string")
    rows = df.select(
        "s",
        char_length(F.col("s")).alias("chars"),
        byte_length(F.col("s")).alias("bytes"),
    ).collect()
    for r in rows:
        assert r.chars == len(r.s), (r.s, r.chars)
        assert r.bytes == len(r.s.encode("utf-8")), (r.s, r.bytes)


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.tuples(st.text(alphabet="abcde ", max_size=16), st.text(alphabet="abc", min_size=1, max_size=2)),
        min_size=1,
        max_size=30,
    )
)
def test_find0_matches_python_find(spark, items):
    df = spark.createDataFrame(items, "s string, needle string")
    # find0 takes a literal pattern → evaluate per distinct needle
    needles = sorted({n for _, n in items})
    for needle in needles:
        rows = (
            df.filter(F.col("needle") == needle)
            .select("s", find0(F.col("s"), needle).alias("idx"))
            .collect()
        )
        for r in rows:
            assert r.idx == r.s.find(needle), (r.s, needle, r.idx)


# Cross-engine whitespace contract (the r5 verdict's latent divergence):
# Java regex \s is [ \t\n\x0B\f\r]; RE2's \s is [ \t\n\f\r] (no \x0B).
# Every paired Spark/DuckDB tokenize now uses the explicit shared class
# functions.text.WS, and \x0B is stripped by normalize_text BEFORE any
# collapse — so a vertical-tab (or NEL/NBSP/unicode-space) document must
# tokenize and fingerprint identically on both engines.
_HOSTILE_WS_DOCS = [
    (1, "plain words here"),
    (2, "vertical\x0btab inside"),          # Java-\s-only whitespace
    (3, "form\x0cfeed and\ttabs\nnewline"),  # \x0c stripped pre-collapse
    (4, "nel\x85and nbsp\xa0chars"),         # matched by NEITHER engine's \s
    (5, "ideographic　space"),           # unicode WS — not in either \s
    (6, " leading and trailing \x0b "),
    (7, "run  of   spaces\r\ncrlf"),
]


def test_ws_class_tokenizes_identically_cross_engine(spark):
    import duckdb

    from minarrow_spark.functions.text import WS, fingerprint, token_count_sql

    df = spark.createDataFrame(_HOSTILE_WS_DOCS, "doc_id long, text string")
    srows = {
        r.doc_id: (r.nt, r.fp)
        for r in df.select(
            "doc_id",
            F.expr(token_count_sql("`text`")).alias("nt"),
            fingerprint(F.col("text")).alias("fp"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join("(?, ?)" for _ in _HOSTILE_WS_DOCS)
        + ") v(doc_id, text)",
        [x for row in _HOSTILE_WS_DOCS for x in row],
    )
    # WS has no escaping to transform: the raw class is byte-identical
    # inside a DuckDB single-quoted literal, so it embeds directly.
    ws_sql = WS
    drows = {
        doc_id: (nt, fp)
        for doc_id, nt, fp in con.execute(
            f"""
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '{ws_sql}'))
                   END,
                   md5(regexp_replace(lower(trim(text)), '{ws_sql}', ' ', 'g'))
            FROM t
            """
        ).fetchall()
    }
    assert srows == drows


def test_q34_normalization_collapses_vertical_tab(spark):
    """A \x0b-bearing near-copy must reach the SAME fingerprint as its base
    doc on BOTH engines (the q34 oracle's normalization replay) — the exact
    future-corpus scenario the r5 verdict flagged."""
    import duckdb

    from minarrow_spark.functions.text import normalize_text

    base = "alpha beta gamma"
    # \x0b/\x0c are STRIPPED (not split on) — placed inside existing
    # whitespace runs so the collapse yields the base text exactly
    dirty = "alpha \x0b beta \x0c\tgamma"
    df = spark.createDataFrame(
        [(1, base), (2, dirty)], "doc_id long, text string"
    )
    from minarrow_spark.operators.dedup import exact_dedup

    normed = df.withColumn("text", normalize_text(F.col("text")))
    # \x0b inside a word is STRIPPED (joining the halves) — both docs must
    # collapse to one fingerprint group with keep_id 1, n_copies 2
    out = exact_dedup(normed).collect()
    assert len(out) == 1 and out[0].keep_id == 1 and out[0].n_copies == 2
    # and DuckDB's replay of the same normalization agrees on the fp bytes
    fp_spark = out[0].fp
    (fp_duck,) = duckdb.sql(
        """
        SELECT md5(regexp_replace(lower(trim(
                 trim(regexp_replace(
                   regexp_replace(
                     regexp_replace(?,
                       '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f-\\x9f]', '', 'g'),
                     '[\\x{200b}\\x{200c}\\x{200d}\\x{2060}\\x{feff}]', '', 'g'),
                   '[ \\t\\n\\r\\f]+', ' ', 'g'))
               )), '[ \\t\\n\\r\\f]+', ' ', 'g'))
        """,
        params=[dirty],
    ).fetchone()
    assert fp_spark == fp_duck


def test_shingle_hashes_parity_on_hostile_text(spark):
    """shingle_hashes (q41's hashed grams) must mirror string shingles'
    WINDOWS on hostile inputs — adversarial whitespace, sub-k texts,
    all-identical tokens — and must distinguish token-boundary ambiguity
    ('ab c' vs 'a bc'), which the space-join form distinguishes too
    (multi-arg xxhash64 hashes each token separately, so the boundary is
    part of the key)."""
    from minarrow_spark.functions.text import shingle_hashes, shingles

    docs = _HOSTILE_WS_DOCS + [
        (8, ""),
        (9, "single"),
        (10, "a a a a a a a a a a"),          # windows identical -> 1 distinct
        (11, "exactly two"),                  # n == k at k=2
        (12, "ab c ab c ab c"),
        (13, "a bc a bc a bc"),               # pairwise-ambiguous with 12
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for k in (2, 8):
        rows = df.select(
            "doc_id",
            F.size(shingles(F.col("text"), k)).alias("ns"),
            F.size(shingle_hashes(F.col("text"), k)).alias("nh"),
            F.size(F.array_distinct(shingles(F.col("text"), k))).alias("ds"),
            F.size(F.array_distinct(shingle_hashes(F.col("text"), k))).alias("dh"),
        ).collect()
        for r in rows:
            assert r.ns == r.nh, (k, r.doc_id, r.ns, r.nh)
            assert r.ds == r.dh, (k, r.doc_id, r.ds, r.dh)
    # boundary ambiguity: the k=2 hash sets of docs 12 and 13 are disjoint
    h = {
        r.doc_id: set(r.g)
        for r in df.filter(F.col("doc_id").isin(12, 13))
        .select("doc_id", shingle_hashes(F.col("text"), 2).alias("g"))
        .collect()
    }
    assert not (h[12] & h[13])


@settings(max_examples=15, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=12))
def test_char_gram_hashes_parity_property(spark, texts):
    """Property form of the char-gram parity (hypothesis-generated unicode,
    incl. combining marks and astral code points): window count, distinct
    count, and a PYTHON-side reference of the window count must all agree
    between char_grams and char_gram_hashes for n=4."""
    from minarrow_spark.functions.text import char_gram_hashes, char_grams

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = df.select(
        "doc_id",
        "text",
        F.size(char_grams(F.col("text"), 4)).alias("ns"),
        F.size(char_gram_hashes(F.col("text"), 4)).alias("nh"),
        F.size(F.array_distinct(char_grams(F.col("text"), 4))).alias("ds"),
        F.size(F.array_distinct(char_gram_hashes(F.col("text"), 4))).alias("dh"),
    ).collect()
    for r in rows:
        want = max(len(r.text) - 3, 0)
        assert r.ns == r.nh == want, (r.text, r.ns, r.nh, want)
        want_d = len({r.text[i : i + 4] for i in range(want)}) if want else 0
        assert r.ds == want_d, (r.text, r.ds, want_d)
        # dh may differ from ds ONLY by hash collisions (probability ~0 on
        # 15 short examples) — assert equality to catch real window bugs.
        assert r.dh == r.ds, (r.text, r.dh, r.ds)


def test_char_gram_hashes_parity_on_hostile_text(spark):
    """char_gram_hashes (q37's hashed grams, r8) must mirror char_grams'
    WINDOWS and set structure on hostile inputs: sub-n texts (empty
    array), exactly-n, repeated characters (distinct collapse), multi-byte
    unicode (length() counts code points on both paths), and embedded
    quotes/controls. Parity is checked on sizes, distinct sizes, AND
    pairwise intersect sizes — the three quantities q37's jaccard
    consumes — so hashed-mode jaccard equals string-mode jaccard."""
    from minarrow_spark.functions.text import char_gram_hashes, char_grams

    docs = [
        (1, ""),
        (2, "abc"),                       # < n
        (3, "abcd"),                      # == n -> exactly one gram
        (4, "aaaaaaaaaa"),                # 7 windows, 1 distinct
        (5, "the quick brown fox"),
        (6, "he quick brown fox j"),      # heavy overlap with 5
        (7, "żółć żółć naïve 汉字汉字汉字"),  # multi-byte code points
        (8, 'qu"ote\\bs\tand\x01ctrl'),
        (9, "abcdabcdabcd"),              # periodic -> few distinct
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for n in (2, 4):
        rows = df.select(
            "doc_id",
            F.size(char_grams(F.col("text"), n)).alias("ns"),
            F.size(char_gram_hashes(F.col("text"), n)).alias("nh"),
            F.size(F.array_distinct(char_grams(F.col("text"), n))).alias("ds"),
            F.size(F.array_distinct(char_gram_hashes(F.col("text"), n))).alias("dh"),
        ).collect()
        for r in rows:
            assert r.ns == r.nh, (n, r.doc_id, r.ns, r.nh)
            assert r.ds == r.dh, (n, r.doc_id, r.ds, r.dh)
    # pairwise |A∩B| parity on all doc pairs (the jaccard numerator)
    sarr = df.select(
        "doc_id", F.array_distinct(char_grams(F.col("text"), 4)).alias("g")
    )
    harr = df.select(
        "doc_id", F.array_distinct(char_gram_hashes(F.col("text"), 4)).alias("g")
    )

    def inters(arr):
        a = arr.select(F.col("doc_id").alias("da"), F.col("g").alias("ga"))
        b = arr.select(F.col("doc_id").alias("db"), F.col("g").alias("gb"))
        return {
            (r.da, r.db): r.ni
            for r in a.join(b, F.col("da") < F.col("db"))
            .select(
                "da", "db", F.size(F.array_intersect("ga", "gb")).alias("ni")
            )
            .collect()
        }

    assert inters(sarr) == inters(harr)


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.tuples(BIGINTS | INTS | st.sampled_from([0, 1, -1, 2**62, -(2**62)]),
                  BIGINTS | INTS | st.sampled_from([0, 1, -1])),
        min_size=1,
        max_size=40,
    )
)
def test_m9_division_matches_duckdb(spark, pairs):
    """M9 semantics CROSS-ENGINE (r9 verdict task 6): floordiv toward −∞,
    C-style remainder, and try_divide nullification evaluated by Spark
    must equal the DuckDB SQL forms a paired oracle would write, on random
    longs including full-range and INT-edge values. DuckDB's ``//``
    TRUNCATES (7//-2 = -3... toward zero), so the oracle-side floordiv is
    the sign-adjusted form — exactly the expression any future oracle
    using floordiv must copy. Excluded: LONG_MIN/−1 (overflows in both
    engines — the reference's checked-op raise, `operators.rs:41-47`).
    """
    import duckdb

    pairs = [
        (i, a, b)
        for i, (a, b) in enumerate(pairs)
        if not (a == -(2**63) and b == -1)
    ]
    df = spark.createDataFrame(pairs, "i long, a long, b long")
    got = {
        r.i: (r.fd, r.rem, r.td)
        for r in df.select(
            "i",
            F.expr(floordiv_int_sql("`a`", "`b`")).alias("fd"),
            remainder(F.col("a"), F.col("b")).alias("rem"),
            try_div(F.col("a"), F.col("b")).alias("td"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, a BIGINT, b BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", pairs)
    want = {
        i: (fd, rem, td)
        for i, fd, rem, td in con.execute(
            """
            SELECT i,
                   CASE WHEN b = 0 THEN NULL
                        WHEN (a % b) <> 0 AND ((a < 0) <> (b < 0))
                          THEN a // b - 1
                        ELSE a // b END AS fd,
                   CASE WHEN b = 0 THEN NULL ELSE a % b END AS rem,
                   CASE WHEN b = 0 THEN NULL
                        ELSE CAST(a AS DOUBLE) / CAST(b AS DOUBLE) END AS td
            FROM t
            """
        ).fetchall()
    }
    con.close()
    for i, a, b in pairs:
        assert got[i][0] == want[i][0], ("fd", a, b, got[i][0], want[i][0])
        assert got[i][1] == want[i][1], ("rem", a, b, got[i][1], want[i][1])
        if b == 0:
            assert got[i][2] is None and want[i][2] is None
        else:
            # both sides compute the IEEE double quotient — bit-equal
            assert got[i][2] == want[i][2], ("td", a, b, got[i][2], want[i][2])


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.text(alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)), max_size=24),
            st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=24),
            st.sampled_from(["", "café", "café", "a​b", "ẛ̣"]),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_nfc_fast_path_matches_python(spark, texts):
    """normalize_text_nfc's ASCII fast path (r9) must be observationally
    identical to per-value unicodedata.normalize for ANY mix of ASCII,
    non-ASCII, empty, and null values — the batch short-circuit and the
    per-value flag routing are implementation details the output can't
    reveal. Soundness being pinned: ASCII ⇔ byte-len == char-len in
    UTF-8, and every normalization form is identity exactly on ASCII."""
    import unicodedata

    from minarrow_spark.functions.text import normalize_text_nfc

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "id long, text string")
    for form in ("NFC", "NFD"):
        got = {
            r.id: r.text for r in normalize_text_nfc(df, form=form).collect()
        }
        want = {
            i: (None if t is None else unicodedata.normalize(form, t))
            for i, t in rows
        }
        assert got == want


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.dates(min_value=__import__("datetime").date(1800, 1, 1),
                     max_value=__import__("datetime").date(2200, 12, 31)),
            st.integers(min_value=-30, max_value=30),
            st.integers(min_value=-1000, max_value=1000),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_datetime_semantics_match_duckdb(spark, rows):
    """D1-D12 semantics CROSS-ENGINE on random dates (r9, extending the M9
    beachhead): ISO day-of-week/week-of-year, leap years, calendar day
    adds, and month adds with end-of-month clamping must agree with
    DuckDB. Leap year is pinned SEMANTICALLY on the oracle side (does
    Feb 29 exist — day(last_day(Feb 1)) = 29), not by replicating the
    mod-4/100/400 formula, so a formula bug cannot self-confirm. Both
    engines use the proleptic Gregorian calendar."""
    import duckdb

    from minarrow_spark.functions.datetimes import (
        date_str,
        is_leap_year,
        iso_dow,
        iso_week,
    )

    data = [(i, d.isoformat(), m, nd) for i, (d, m, nd) in enumerate(rows)]
    df = spark.createDataFrame(data, "i long, d string, m int, nd int")
    dd = F.to_date("d")
    got = {
        r.i: (r.dow, r.wk, r.leap, r.addd, r.addm)
        for r in df.select(
            "i",
            iso_dow(dd).alias("dow"),
            iso_week(dd).alias("wk"),
            is_leap_year(dd).alias("leap"),
            date_str(F.date_add(dd, F.col("nd"))).alias("addd"),
            date_str(F.add_months(dd, F.col("m"))).alias("addm"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, d DATE, m INT, nd INT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", data)
    want = {
        i: vals
        for i, *vals in con.execute(
            """
            SELECT i,
                   isodow(d),
                   weekofyear(d),
                   day(last_day(make_date(year(d), 2, 1))) = 29,
                   strftime(d + nd * INTERVAL 1 DAY, '%Y-%m-%d'),
                   strftime(d + m * INTERVAL 1 MONTH, '%Y-%m-%d')
            FROM t
            """
        ).fetchall()
    }
    con.close()
    for i, _, m, nd in data:
        assert list(got[i]) == want[i], (data[i], got[i], want[i])


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.text(alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)), max_size=20),
            st.integers(min_value=1, max_value=12),
            st.integers(min_value=0, max_value=8),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_string_kernels_match_duckdb(spark, rows):
    """T-family semantics CROSS-ENGINE on random unicode: the paired
    substr/lpad/repeat/reverse/replace forms q21's oracle relies on must
    agree character-for-character on arbitrary text (the fixed vectors in
    q21 can't cover combining marks, astral-plane chars, or pad-overflow
    truncation). Both engines index by CODEPOINT, pad/truncate lpad to
    exactly n chars, and Spark's reverse flips codepoints. DuckDB's
    ``reverse()`` flips grapheme clusters (a combining mark stays after its
    base), so the oracle reverses the codepoint list instead — the same form
    q21's oracle uses."""
    import duckdb

    data = [(i, s, start, ln) for i, (s, start, ln) in enumerate(rows)]
    df = spark.createDataFrame(data, "i long, s string, st int, ln int")
    got = {
        r.i: (r.sub, r.pad, r.rep2, r.rev, r.repl)
        for r in df.select(
            "i",
            F.expr("substring(s, st, ln)").alias("sub"),
            F.lpad("s", 9, "*").alias("pad"),
            F.repeat(F.col("s"), 2).alias("rep2"),
            F.reverse("s").alias("rev"),
            F.replace(F.col("s"), F.lit("a"), F.lit("@")).alias("repl"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, s VARCHAR, st INT, ln INT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", data)
    want = {
        i: tuple(vals)
        for i, *vals in con.execute(
            "SELECT i, substr(s, st, ln), lpad(s, 9, '*'), repeat(s, 2),"
            " array_to_string(list_reverse(string_split(s, '')), ''),"
            " replace(s, 'a', '@') FROM t"
        ).fetchall()
    }
    con.close()
    for i, s, start, ln in data:
        assert got[i] == want[i], (s, start, ln, got[i], want[i])


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=10_000_000),  # word count c
            st.integers(min_value=0, max_value=3),           # group id
        ),
        min_size=1,
        max_size=40,
    )
)
def test_round6_then_exact_sum_transcendental_matches_duckdb(spark, rows):
    """The round-to-6-then-exact-decimal-sum transcendental contract (q32's
    NLL class, r10 verdict task 7a) on hypothesis-generated inputs: for
    random counts c over group totals n, Spark's
    ``round(-log(c/n), 6)::decimal(18,6)`` must equal DuckDB's
    ``round(-ln(c/n), 6)::DECIMAL(18,6)`` PER VALUE, and the grouped
    decimal sums must be exactly equal. Soundness being pinned: the double
    quotient c/n is IEEE-identical cross-engine, ln differs by δ ~1e-16
    relative ≪ the 5e-7 rounding grid, and decimal addition is exact and
    associative — so the aggregate is bit-reproducible even though it
    passes through a transcendental. This is the exact expression shape
    q32's surprisal tier uses (queries/textops.py nll_w)."""
    import duckdb

    data = [(i, c, g) for i, (c, g) in enumerate(rows)]
    # group totals n = sum of counts in the group (mirrors q32: word count
    # over corpus total), guaranteed >= c so the quotient is in (0, 1].
    totals: dict[int, int] = {}
    for _, c, g in data:
        totals[g] = totals.get(g, 0) + c
    df = spark.createDataFrame(
        [(i, c, g, totals[g]) for i, c, g in data],
        "i long, c long, g long, n long",
    )
    nll = F.round(-F.log(F.col("c").cast("double") / F.col("n")), 6).cast(
        "decimal(18,6)"
    )
    per_val = {r.i: r.nll for r in df.select("i", nll.alias("nll")).collect()}
    grp = {
        r.g: r.s
        for r in df.select("g", nll.alias("nll"))
        .groupBy("g")
        .agg(F.sum("nll").alias("s"))
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, c BIGINT, g BIGINT, n BIGINT)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?, ?, ?)",
        [(i, c, g, totals[g]) for i, c, g in data],
    )
    want_val = dict(
        con.execute(
            "SELECT i, CAST(round(-ln(CAST(c AS DOUBLE) / n), 6)"
            " AS DECIMAL(18,6)) FROM t"
        ).fetchall()
    )
    want_grp = dict(
        con.execute(
            "SELECT g, SUM(CAST(round(-ln(CAST(c AS DOUBLE) / n), 6)"
            " AS DECIMAL(18,6))) FROM t GROUP BY g"
        ).fetchall()
    )
    con.close()
    for i, c, g in data:
        assert per_val[i] == want_val[i], (c, totals[g], per_val[i], want_val[i])
    for g, s in grp.items():
        assert s == want_grp[g], (g, s, want_grp[g])


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=5000),  # value on the 0.01 grid
            st.integers(min_value=1, max_value=20),    # multiplicity
            st.integers(min_value=0, max_value=2),     # group id
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda t: (t[0], t[2]),
    )
)
def test_weighted_histogram_equals_per_row_moments(spark, rows):
    """The weighted-histogram ≡ per-row moments identity (q24's r9
    derivation, r10 verdict task 7b) on random weighted distributions:
    grouping to a (group, value, count) histogram FIRST and computing
    scaled-long moment sums weighted by count must reproduce the per-row
    scaled-long aggregate BIT-identically (integer addition is
    associative; the double divides are then identical ops on identical
    longs) for avg and sample variance, and the exact interpolated
    percentile must equal Spark's own all-rows F.percentile at the
    round-6 output contract (the interpolation op orders differ by
    1-2 ulp — see the inline note at the assertion). This
    is the identity that lets q24 replace a full-corpus percentile sort
    with a ~150-row histogram at 100 TB."""
    vals = [(g, k / 100.0, w) for k, w, g in rows]
    expanded = [(g, v) for g, v, w in vals for _ in range(w)]
    per_row = spark.createDataFrame(expanded, "g long, v double")
    vc = F.round(F.col("v") * 100).cast("long")
    vq = F.round(F.col("v") * F.col("v") * 10000).cast("long")
    nr = F.count(F.lit(1))
    raw = {
        r.g: (r.avg, r.var, r.p50, r.p90)
        for r in per_row.groupBy("g")
        .agg(
            ((F.sum(vc) / F.lit(100.0)).cast("double") / nr).alias("avg"),
            # try_divide: generated groups can be single-row (n-1 == 0),
            # which q24's real data never is — ANSI would error on bare /
            F.try_divide(
                (F.sum(vq) / F.lit(10000.0)).cast("double")
                - (F.sum(vc) / F.lit(100.0)).cast("double")
                * (F.sum(vc) / F.lit(100.0)).cast("double")
                / nr,
                nr - F.lit(1.0),
            ).alias("var"),
            F.percentile("v", F.lit(0.5)).alias("p50"),
            F.percentile("v", F.lit(0.9)).alias("p90"),
        )
        .collect()
    }

    # histogram path: (g, v, qn) rows → count-weighted moment sums +
    # cum/cumprev interpolated percentiles (the funcs.py q24 shapes)
    from pyspark.sql import Window as W

    hist = spark.createDataFrame(vals, "g long, v double, qn long")
    s1 = (F.sum(vc * F.col("qn")) / F.lit(100.0)).cast("double")
    s2 = (F.sum(vq * F.col("qn")) / F.lit(10000.0)).cast("double")
    n = F.sum("qn")
    hmom = {
        r.g: (r.avg, r.var)
        for r in hist.groupBy("g")
        .agg(
            (s1 / n).alias("avg"),
            F.try_divide(s2 - s1 * s1 / n, n - F.lit(1.0)).alias("var"),
        )
        .collect()
    }
    qh = (
        hist.withColumn(
            "cum",
            F.sum("qn").over(
                W.partitionBy("g").orderBy("v").rowsBetween(W.unboundedPreceding, 0)
            ),
        )
        .withColumn("nt", F.sum("qn").over(W.partitionBy("g")))
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
        return vlo + (vhi - vlo) * frac

    hpct = {
        r.g: (r.p50, r.p90)
        for r in qh.groupBy("g")
        .agg(*_pct_cols(0.5, "m"), *_pct_cols(0.9, "p"))
        .select(
            "g", _pct_val("m").alias("p50"), _pct_val("p").alias("p90")
        )
        .collect()
    }
    for g, (avg, var, p50, p90) in raw.items():
        assert hmom[g][0] == avg, (g, hmom[g][0], avg)
        # single-row groups: var is NULL/NaN on both paths
        if var is None or var != var:
            assert hmom[g][1] is None or hmom[g][1] != hmom[g][1]
        else:
            assert hmom[g][1] == var, (g, hmom[g][1], var)
        # Percentiles compare at the round-6 OUTPUT contract, not raw:
        # q24 ships round(vlo + (vhi - vlo) * frac, 6) against the
        # oracle's round(quantile_cont, 6), while F.percentile
        # interpolates (1 - d) * lo + d * hi — the two IEEE op orders
        # differ by 1-2 ulp on adversarial inputs (hypothesis found
        # lo=0.01, hi=2.02, d=0.5: 1.0150000000000001 vs 1.015), which
        # round-6 absorbs exactly as it does for transcendentals.
        assert (round(hpct[g][0], 6), round(hpct[g][1], 6)) == (
            round(p50, 6),
            round(p90, 6),
        ), (g, hpct[g], (p50, p90))
