"""Text analysis over the `documents` table (training-data pipeline ops).

These are first-class components of the engine (beyond the reference's T1-T20
kernel set): token counting, language ID, quality scoring, fingerprinting.
All pure Catalyst expressions — one codegen'd projection per query, no Python
in the hot path, embarrassingly parallel at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from minarrow_spark.functions.text import (
    BPE_PATTERN,
    WS,
    LANG_PATTERNS,
    PUNCT_PATTERN,
    bpe_token_count,
    fingerprint,
    lang_predict,
    quality_score,
    token_count_sql,
    tokens,
)
from minarrow_spark.queries._util import T, par
from minarrow_spark.registry import query

_SQL_TOKENS = (
    "CASE WHEN trim(text) = '' THEN 0 "
    "ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f]+')) END"
)


def _sql_score(lang: str) -> str:
    return f"len(regexp_extract_all(lower(text), '{LANG_PATTERNS[lang]}'))"


_SQL_BPE = BPE_PATTERN.replace("'", "''")

_BPE_MERGES, _BPE_MAXW, _BPE_TOPT = 20, 500, 15
_Q30_METRICS = [
    "n_docs", "total_tokens", "max_tokens", "total_bpe_tokens",
    "max_bpe_tokens", "total_chars", "avg_chars",
]


def _bpe_oracle_ctes() -> str:
    """The q30 'bpe' tiers replayed in DuckDB: word histogram → top-N
    truncation → {_BPE_MERGES} merge iterations (pair counts weighted by word
    freq, winner by (count DESC, pair ASC), one boundary-anchored replace
    pass) → token counts of the final vocabulary. Semantics contract lives
    in operators/bpe.py; every CTE is MATERIALIZED (scalar-chain inlining
    is exponential — see q52)."""
    t = _BPE_MERGES
    ctes = [
        "bw AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM "
        "(SELECT unnest(string_split(text, ' ')) AS w FROM documents) "
        "WHERE w <> '' GROUP BY w)",
        f"btr AS MATERIALIZED (SELECT w, f FROM bw ORDER BY f DESC, w "
        f"LIMIT {_BPE_MAXW})",
        "bv0 AS MATERIALIZED (SELECT '|' || array_to_string("
        "string_split_regex(w, ''), '|') || '|' AS s, f FROM btr)",
    ]
    for i in range(t):
        ctes.append(
            f"bp{i} AS MATERIALIZED (SELECT pr, SUM(f) AS c FROM "
            f"(SELECT unnest(list_transform(range(1, len(a)), "
            f"j -> a[j] || '|' || a[j+1])) AS pr, f FROM "
            f"(SELECT string_split(trim(s, '|'), '|') AS a, f FROM bv{i})) "
            f"GROUP BY pr)"
        )
        ctes.append(
            f"bb{i} AS MATERIALIZED (SELECT pr, CAST(c AS DOUBLE) AS c "
            f"FROM bp{i} ORDER BY c DESC, pr LIMIT 1)"
        )
        ctes.append(
            f"bv{i + 1} AS MATERIALIZED (SELECT replace(s, '|' || pr || '|', "
            f"'|' || replace(pr, '|', '') || '|') AS s, f FROM bv{i}, bb{i})"
        )
    ctes.append(
        f"btok AS MATERIALIZED (SELECT tk, CAST(SUM(f) AS DOUBLE) AS c FROM "
        f"(SELECT unnest(string_split(s, '|')) AS tk, f FROM bv{t}) "
        f"WHERE tk <> '' GROUP BY tk)"
    )
    ctes.append(
        f"btop AS MATERIALIZED (SELECT tk, c, ROW_NUMBER() OVER "
        f"(ORDER BY c DESC, tk) AS r FROM btok QUALIFY r <= {_BPE_TOPT})"
    )
    return ", ".join(ctes)


def _q30_oracle() -> str:
    metric_rows = " UNION ALL ".join(
        f"SELECT 'langgrid' AS tier, lang AS ka, predicted AS kb, "
        f"'{m}' AS sval, {m} AS val FROM agg"
        for m in _Q30_METRICS
    )
    merge_rows = " UNION ALL ".join(
        f"SELECT 'bpe_merge', 'm{i:02d}', pr, replace(pr, '|', ''), c FROM bb{i}"
        for i in range(_BPE_MERGES)
    )
    return f"""
    WITH scored AS (
      SELECT lang, text, n_chars,
             {_sql_score('en')} AS s_en,
             {_sql_score('es')} AS s_es,
             {_sql_score('fr')} AS s_fr,
             {_sql_score('de')} AS s_de,
             {_sql_score('zh')} AS s_zh
      FROM documents
    ),
    labeled AS (
      SELECT lang,
             CASE
               WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de AND s_en >= s_zh
                 THEN 'en'
               WHEN s_es >= s_en AND s_es >= s_fr AND s_es >= s_de AND s_es >= s_zh
                 THEN 'es'
               WHEN s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_de AND s_fr >= s_zh
                 THEN 'fr'
               WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh
                 THEN 'de'
               ELSE 'zh'
             END AS predicted,
             text, n_chars
      FROM scored
    ),
    agg AS (
      SELECT lang, predicted,
             CAST(COUNT(*) AS DOUBLE) AS n_docs,
             CAST(SUM({_SQL_TOKENS}) AS DOUBLE) AS total_tokens,
             CAST(MAX({_SQL_TOKENS}) AS DOUBLE) AS max_tokens,
             CAST(SUM(len(regexp_extract_all(lower(text), '{_SQL_BPE}')))
                  AS DOUBLE) AS total_bpe_tokens,
             CAST(MAX(len(regexp_extract_all(lower(text), '{_SQL_BPE}')))
                  AS DOUBLE) AS max_bpe_tokens,
             CAST(SUM(n_chars) AS DOUBLE) AS total_chars,
             CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
      FROM labeled
      GROUP BY lang, predicted
    ),
    {_bpe_oracle_ctes()}
    {metric_rows}
    UNION ALL {merge_rows}
    UNION ALL
    SELECT 'bpe_token', 't' || lpad(CAST(r - 1 AS VARCHAR), 2, '0'), tk, '', c
    FROM btop
    """


@query(
    "q30_token_stats",
    oracle=_q30_oracle(),
    tags=("text", "tokenize", "lang-id", "bpe"),
)
def q30_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenization suite, three tiers (long form: tier/ka/kb/sval/val):

    * tier 'langgrid' — token statistics on the language-ID confusion grid,
      labeled × predicted language (the stopword-heuristic argmax), both
      counting contracts as exact integer sums: whitespace tokens and
      BPE-ish subword-boundary tokens (functions/text.py BPE_PATTERN). One
      codegen'd projection, one map-side-combined shuffle.
    * tier 'bpe_merge' — DISTRIBUTED BPE VOCABULARY TRAINING
      (operators/bpe.py): the corpus-scale step is one word-histogram
      shuffle (map-side combined, vocabulary-cardinality output); the
      20-step merge loop runs on the truncated histogram as model
      state (total-order tie-breaks, no RNG) and the DuckDB oracle replays
      every iteration — each learned merge's pair, merged token, and count
      are hash-checked.
    * tier 'bpe_token' — the learned vocabulary applied BACK distributed:
      `bpe_encode` is a chain of literal replaces (whole-stage codegen,
      zero shuffle — the 100 TB encode path), then token counts over the
      histogram and a top-15 ranking (the final window sorts
      vocabulary-cardinality rows, bounded model scale, not row data).
    """
    from minarrow_spark.operators.bpe import (
        bpe_encode,
        bpe_tokens,
        bpe_train,
        symbolize,
        word_histogram,
    )

    d = par(T(spark, sf_dir, "documents"))
    nt = F.expr(token_count_sql("`text`"))
    nb = bpe_token_count(F.col("text"))
    g = d.select(
        "lang", lang_predict(F.col("text")).alias("predicted"),
        nt.alias("nt"), nb.alias("nb"), "n_chars",
    ).groupBy("lang", "predicted").agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("nt").cast("double").alias("total_tokens"),
        F.max("nt").cast("double").alias("max_tokens"),
        F.sum("nb").cast("double").alias("total_bpe_tokens"),
        F.max("nb").cast("double").alias("max_bpe_tokens"),
        F.sum("n_chars").cast("double").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
    )
    lg = g.select(
        F.lit("langgrid").alias("tier"),
        F.col("lang").alias("ka"),
        F.col("predicted").alias("kb"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("sval"), F.col(m).alias("val")
                    )
                    for m in _Q30_METRICS
                ]
            )
        ).alias("m"),
    ).select("tier", "ka", "kb", "m.sval", "m.val")

    wh = word_histogram(d)
    hist = wh.orderBy(F.desc("f"), "w").limit(_BPE_MAXW).collect()  # model state
    merges = bpe_train([(r["w"], r["f"]) for r in hist], _BPE_MERGES)
    mdf = spark.createDataFrame(
        [
            ("bpe_merge", f"m{i:02d}", pr, merged, float(c))
            for i, (pr, merged, c) in enumerate(merges)
        ],
        ["tier", "ka", "kb", "sval", "val"],
    )

    enc = wh.orderBy(F.desc("f"), "w").limit(_BPE_MAXW).select(
        bpe_encode(symbolize(F.col("w")), [pr for pr, _, _ in merges]).alias("s"),
        "f",
    )
    tok = (
        enc.select(F.explode(bpe_tokens(F.col("s"))).alias("tk"), "f")
        .groupBy("tk")
        .agg(F.sum("f").cast("double").alias("c"))
    )
    topt = (
        tok.withColumn(
            "r", F.row_number().over(W.orderBy(F.desc("c"), "tk"))
        )
        .filter(F.col("r") <= _BPE_TOPT)
        .select(
            F.lit("bpe_token").alias("tier"),
            F.format_string("t%02d", F.col("r") - 1).alias("ka"),
            F.col("tk").alias("kb"),
            F.lit("").alias("sval"),
            F.col("c").alias("val"),
        )
    )
    pick = lambda df: df.select("tier", "ka", "kb", "sval", "val")
    return pick(lg).unionByName(pick(mdf)).unionByName(pick(topt))


@query(
    "q32_quality_score",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, source,
             CAST({_SQL_TOKENS} AS DOUBLE) AS n_tok,
             CAST(length(text) AS DOUBLE) AS n_char,
             CAST({_sql_score('en')} AS DOUBLE) AS stop,
             CAST(len(regexp_extract_all(text, '{PUNCT_PATTERN}')) AS DOUBLE) AS punct,
             CASE WHEN trim(text) = '' THEN 0.0 ELSE
               CAST(len(list_distinct(
                      regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f]+')))
                    AS DOUBLE)
             END AS n_types
      FROM documents
    ), s AS (
      SELECT doc_id, source,
             (3.0 * stop + n_tok)
             / (n_tok + 5.0 * punct
                + (CASE WHEN n_tok > 0 THEN n_char / n_tok ELSE 0.0 END)
                + 1.0) AS score,
             CASE WHEN n_tok > 0 THEN n_types / n_tok ELSE 1.0 END AS ttr
      FROM q
    ),
    tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f]+')) AS w
      FROM documents WHERE trim(text) <> ''
    ),
    cnt AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
    tot AS (SELECT SUM(c) AS n FROM cnt),
    term AS (
      SELECT doc_id,
             CAST(round(-ln(CAST(c AS DOUBLE) / n), 6) AS DECIMAL(18,6)) AS nll
      FROM tok JOIN cnt USING (w) CROSS JOIN tot
    ),
    docn AS (
      SELECT doc_id, SUM(nll) AS nll_sum, COUNT(*) AS n_tok_nll
      FROM term GROUP BY doc_id
    ),
    gr AS (
      SELECT t.doc_id,
             unnest(list_transform(range(1, greatest(len(t.w) - 2, 1)),
                    i -> t.w[i] || ' ' || t.w[i+1] || ' ' || t.w[i+2]
                         || ' ' || t.w[i+3])) AS g
      FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f]+') AS w
            FROM documents WHERE trim(text) <> '') t
    ),
    gd AS (SELECT doc_id, g, COUNT(*) AS occ FROM gr GROUP BY doc_id, g),
    gdf AS (
      SELECT doc_id, occ, COUNT(*) OVER (PARTITION BY g) AS dfg FROM gd
    ),
    grshared AS (
      SELECT doc_id, SUM(occ) AS n_shared FROM gdf WHERE dfg >= 2
      GROUP BY doc_id
    ),
    ngr AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE greatest(len(regexp_split_to_array(lower(trim(text)),
                                                          '[ \\t\\n\\r\\f]+')) - 3, 0)
             END AS n_gr
      FROM documents
    ),
    bp AS (
      SELECT ngr.doc_id,
             CASE WHEN ngr.n_gr > 0
                  THEN round(CAST(COALESCE(grshared.n_shared, 0) AS DOUBLE)
                             / ngr.n_gr, 6)
                  ELSE 0.0 END AS bp_frac
      FROM ngr LEFT JOIN grshared USING (doc_id)
    ),
    words AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f]+') AS w
      FROM documents WHERE trim(text) <> ''
    ),
    g2 AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(w), 1)),
                    i -> w[i] || ' ' || w[i+1])) AS g
      FROM words
    ),
    g2c AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY doc_id, g),
    top2 AS (SELECT doc_id, MAX(c) AS m2 FROM g2c GROUP BY doc_id),
    g3 AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
      FROM words
    ),
    g3c AS (SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY doc_id, g),
    dup3 AS (
      SELECT doc_id,
             round(CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
                   / CAST(SUM(c) AS DOUBLE), 6) AS dup3_frac
      FROM g3c GROUP BY doc_id
    ),
    rep AS (
      SELECT q.doc_id,
             CASE WHEN q.n_tok >= 2 THEN round(2.0 * top2.m2 / q.n_tok, 6)
                  ELSE 0.0 END AS top2_share,
             COALESCE(dup3.dup3_frac, 0.0) AS dup3_frac
      FROM q LEFT JOIN top2 USING (doc_id) LEFT JOIN dup3 USING (doc_id)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(score AS DECIMAL(18,6))) AS DOUBLE) AS total_score,
           CAST(SUM(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
           CAST(SUM(CAST(ttr AS DECIMAL(18,6))) AS DOUBLE) AS total_ttr,
           CAST(SUM(CASE WHEN ttr < 0.3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_repetitious,
           CAST(SUM(COALESCE(nll_sum, 0)) AS DOUBLE) AS total_nll,
           CAST(SUM(CASE WHEN nll_sum > 3.5 * n_tok_nll THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hi_surprisal,
           CAST(SUM(CAST(COALESCE(bp_frac, 0.0) AS DECIMAL(18,6))) AS DOUBLE)
             AS total_bp_frac,
           CAST(SUM(CASE WHEN COALESCE(bp_frac, 0.0) >= 0.5 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_boilerplate,
           CAST(SUM(CAST(COALESCE(top2_share, 0.0) AS DECIMAL(18,6)))
                AS DOUBLE) AS total_top2_share,
           CAST(SUM(CASE WHEN COALESCE(top2_share, 0.0) >= 0.2 THEN 1 ELSE 0
                    END) AS BIGINT) AS n_top2_heavy,
           CAST(SUM(CAST(COALESCE(dup3_frac, 0.0) AS DECIMAL(18,6)))
                AS DOUBLE) AS total_dup3_frac,
           CAST(SUM(CASE WHEN COALESCE(dup3_frac, 0.0) >= 0.02 THEN 1 ELSE 0
                    END) AS BIGINT) AS n_dup3_heavy
    FROM s LEFT JOIN docn USING (doc_id) LEFT JOIN bp USING (doc_id)
         LEFT JOIN rep USING (doc_id)
    GROUP BY source
    """,
    tags=("text", "quality"),
)
def q32_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring (rational arithmetic only → deterministic);
    per-source keep/drop accounting as a filter pipeline would use it.
    Alongside the heuristic score: the repetition signal (type-token ratio,
    per-row array math, docs under 0.3 flagged) and the statistical-LM
    signal (per-token unigram negative log-likelihood — the cheap stand-in
    for perplexity filtering). Each token's surprisal rounds to 6 decimals
    then sums as exact DECIMAL, so the float-transcendental step is per-value
    (engines agree after rounding — verified against the corpus vocab) and
    every aggregation is order-independent. Docs whose mean surprisal
    exceeds 3.5 nats/token are flagged (in this corpus: the near-dup marker
    token is ~35× rarer than the base vocab, so marker-dense docs surface).

    Alongside: the inter-document boilerplate signal (C4/RefinedWeb-style):
    the fraction of a doc's word 4-grams that also appear in at least one
    OTHER document — repeated spans (headers, license text, templates) that
    a cleaning pipeline strips. Doc-frequency of grams comes from one
    distinct + one map-side-combined agg; per-doc fractions round to 6
    digits then sum as exact decimal (the same per-value-rounding contract
    as the surprisal tier). Docs with ≥50% shared spans are flagged.

    Scale shape: the unigram table is vocabulary-sized → broadcast to score
    tokens (at 100 TB a natural-language vocab is ~1e6-1e7 rows — still
    broadcastable; beyond that, bucket both sides on the token). The gram
    doc-frequency table is corpus-sized at 100 TB — that tier buckets both
    sides on the gram hash instead of broadcasting (the q35/q41 shape). The
    doc re-joins shuffle on doc_id; everything else is map-side combined.

    Plus the Gopher-style intra-document repetition filters (Rae et al.
    2021, table A1 — token approximations of the char-fraction originals):
    top-2-gram share (2·count of the most frequent word 2-gram / n_tokens;
    ≥0.2 flagged) and duplicate-3-gram fraction (share of 3-gram
    occurrences whose gram repeats within the doc; ≥0.02 flagged — this
    corpus is near-repetition-free, so the Gopher 0.6 bar would never fire). Per-doc
    values round to 6 digits then sum as exact decimals per source — the
    same per-value-rounding contract as the surprisal tier."""
    from minarrow_spark.functions.text import shingles

    d = par(T(spark, sf_dir, "documents"))
    # Exact-content collapse (r7 — the q35/q36/q37/q41 discipline): every
    # signal here is a function of the TEXT plus corpus-level counts, so
    # the tokenize/shingle/explode machinery (the dominant cost: ~2.4B
    # exploded gram rows at the 100× replica point) runs on ONE
    # representative per distinct text. Corpus-level counts stay exact by
    # carrying the clone-group size `gc` on every occurrence row: vocab
    # counts sum cw·gc, and 4-gram doc-frequency sums gc over the reps
    # containing the gram (df counts docs, clones included — a gram whose
    # only rep has gc ≥ 2 IS shared). Per-doc metrics expand through the
    # slim members table; `source` rides the raw doc row (clones of one
    # text may come from different sources).
    # rep AND group size ride ONE whole-partition window (same frame, no
    # extra shuffle); `source` rides along so the expansion below needs no
    # second documents scan. At small SF the fixed job/stage count is the
    # scarce resource (CLAUDE.md), so the collapse layer is exactly one
    # window + one checkpoint + one join.
    wfp = W.partitionBy("fp")
    members = (
        d.select("doc_id", "source", F.md5("text").alias("fp"))
        .withColumn("rep", F.min("doc_id").over(wfp))
        .withColumn("gc", F.count(F.lit(1)).over(wfp))
        .select("doc_id", "source", "rep", "gc")
        .localCheckpoint(eager=True)  # slim; feeds rep attach + expansion
    )
    # One inner join attaches (rep-filter AND gc) in a single stage; no
    # broadcast hint — rep count == distinct-text count, corpus-sized on
    # clone-free data, AQE broadcasts when small (the q41 rule).
    grp = members.filter(F.col("doc_id") == F.col("rep")).select("doc_id", "gc")
    dr = d.join(grp, "doc_id")
    score = quality_score("text")
    toks = tokens(F.col("text"))
    n_tok = F.expr(token_count_sql("`text`")).cast("double")
    ttr = F.when(
        n_tok > 0, F.size(F.array_distinct(toks)).cast("double") / n_tok
    ).otherwise(F.lit(1.0))
    base = dr.select(
        "doc_id",
        "gc",
        score.alias("score"),
        ttr.alias("ttr"),
        n_tok.alias("n_tokd"),
        F.split(F.lower(F.trim("text")), WS).alias("lw"),
        shingles(F.col("text"), 2).alias("sh2"),
        shingles(F.col("text"), 3).alias("sh3"),
        shingles(F.col("text"), 4).alias("sh4"),
        F.trim("text").alias("_t"),
    ).withColumn(
        # gram count is pure arithmetic (n_tokens − 3, floored at 0) — the
        # final-branch evaluation never re-runs the shingle transform (it is
        # column-pruned away; only the gr branch pays it, once).
        "n_gr",
        F.when(F.col("_t") == "", F.lit(0)).otherwise(
            F.greatest(F.size("lw") - 3, F.lit(0))
        ),
    )
    # ALL FOUR gram-level signals (unigram surprisal, 2/3-gram Gopher
    # repetition, 4-gram boilerplate) ride ONE map-side-combined
    # (doc_id, k, gram) aggregation: four tagged explode arms union into a
    # single shuffle, and every downstream tier consumes per-(doc, gram)
    # COUNTS instead of raw occurrences (exactness preserved — summing c
    # copies of one rounded-decimal surprisal equals c × that decimal).
    # The r4 shape ran three separate gram shuffles (word counts, 2/3-gram
    # counts, 4-gram counts) over the same exploded streams; fusing them
    # cut q32's 100× time by ~a third. The fused table feeds four
    # consumers, so it is GC-scope checkpointed once (the q35 rule).
    # Gram keys are INT-FOLDED before the shuffle (r7 task 2, measured):
    # no consumer ever needs the gram text — only equality (within-doc
    # counts, vocab counts, doc-frequency) — so each occurrence carries
    # xxhash64(gram) (8 bytes) instead of the string (7-40+ bytes; the
    # 4-gram arm is the widest). Soundness: same class as the md5 collapse
    # keys (q35/q36) — a 64-bit key over the ≤1e8 distinct grams of any
    # per-job corpus partition collides with probability ~1e-7 per corpus
    # (deterministic, not flaky, when it ever does); at true 100 TB vocab
    # scale (1e10+ distinct grams) swap in a two-long 128-bit fold — the
    # aggregation shape is unchanged.
    ne = base.filter(F.col("_t") != "")

    def arm(col: str, k: int):
        return ne.select(
            "doc_id", "gc", F.lit(k).alias("k"), F.explode(F.col(col)).alias("gs")
        ).select("doc_id", "gc", "k", F.xxhash64("gs").alias("g"))

    occ = (
        arm("lw", 1)
        .unionByName(arm("sh2", 2))
        .unionByName(arm("sh3", 3))
        .unionByName(arm("sh4", 4))
    )
    # NOT checkpointed: at 100× this table is ~2.4B rows — materializing it
    # measured 85-114s vs 45s unfused (the checkpoint write+read dwarfs the
    # saved shuffles). The four consumers share the ONE groupBy exchange
    # via runtime reuse (canonically identical subplans); only the cheap
    # reduce-side final agg re-executes per consumer.
    # first("gc") is deterministic: gc is constant per doc_id (the q41
    # rides-the-exploded-rows trick) — no separate gsz join on the big table.
    dkg = occ.groupBy("doc_id", "k", "g").agg(
        F.count(F.lit(1)).alias("c"), F.first("gc").alias("gc")
    )
    gd = dkg.filter(F.col("k") == 4).select(
        "doc_id", "g", F.col("c").alias("occ"), "gc"
    )
    # Shared-span mass by COMPLEMENT (r9 — one consumer instead of three):
    # n_shared = n_gr − Σocc over the doc's UNSHARED grams, and a gram with
    # doc-frequency 1 lives in exactly one (doc, g) row — so ONE
    # map-side-combined groupBy(g) carrying (dfg, min doc, Σocc) yields the
    # per-doc unshared mass from a second agg over GRAM-STATS rows, with no
    # join back onto the occurrence table. The r8 form (df agg + semi-join
    # + per-doc agg) re-shuffled the k=4 occurrence slice twice more.
    # Measured (r9, with the docagg fusion below): on a CLONE-FREE 50×
    # corpus (per-replica text salt — the regime a real 100 TB crawl is
    # in, where collapse can't shrink the gram tier) 17.6-18.3 → 13.8-14.2
    # s interleaved; on the standard clone-degenerate 100× replica point
    # it pays ~0.6 s (9.6 vs 10.3 isolated) because collapse already
    # shrank dkg to ~1% there and the fused consumers' per-row overhead is
    # all that's left to see. The realistic regime wins by 25%.
    # (Still an agg, not a count-over-window: windows get no partial
    # aggregation and the hottest boilerplate gram would land on one
    # reducer.) For dfg ≥ 2 rows min(doc_id)/Σocc are unused; for
    # dfg == 1 they are the single row's values — deterministic.
    g4stats = gd.groupBy("g").agg(
        F.sum("gc").alias("dfg"),  # doc-frequency counts clones too
        F.min("doc_id").alias("only_doc"),
        F.sum("occ").alias("tot_occ"),
    )
    bp = (
        g4stats.filter(F.col("dfg") == 1)
        .groupBy("only_doc")
        .agg(F.sum("tot_occ").cast("bigint").alias("n_unshared"))
        .withColumnRenamed("only_doc", "doc_id")
    )
    # Gopher-style intra-document repetition signals (token approximation of
    # the char-fraction originals): top-2-gram share (2·max 2-gram count /
    # n_tokens) and duplicate-3-gram fraction (occurrences of 3-grams seen
    # ≥2× in the doc / all 3-gram occurrences).
    dw = dkg.filter(F.col("k") == 1).select(
        "doc_id", F.col("g").alias("w"), F.col("c").alias("cw"), "gc"
    )
    cnt = dw.groupBy("w").agg(
        F.sum(F.col("cw") * F.col("gc")).cast("bigint").alias("c")
    )
    tot = cnt.agg(F.sum("c").alias("n"))
    # Gopher repetition (k=2,3) and unigram surprisal (k=1) FUSED into one
    # groupBy(doc_id) pass over the shared exchange (r9): both were
    # doc-keyed reduce-side finals over dkg slices, each re-reading the
    # full shuffle — fusing halves those reads and drops one doc-keyed
    # join from the expansion below. The vocab broadcast joins only k=1
    # rows (compound condition: a k≥2 gram hash could collide with a word
    # hash, so equality on g alone would be unsound).
    # per-(doc, word) surprisal × multiplicity — exact: the rounded
    # per-value decimal is fixed per word, so cw · nll_w == Σ_{cw} nll_w.
    vocab = cnt.crossJoin(tot).select(
        F.col("w").alias("vg"),
        F.round(-F.log(F.col("c").cast("double") / F.col("n")), 6)
        .cast("decimal(18,6)")
        .alias("nll_w"),
    )
    docagg = (
        dkg.filter(F.col("k").isin(1, 2, 3))
        .join(
            F.broadcast(vocab),
            (F.col("g") == F.col("vg")) & (F.col("k") == 1),
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.max(F.when(F.col("k") == 2, F.col("c"))).alias("m2"),
            F.sum(
                F.when((F.col("k") == 3) & (F.col("c") >= 2), F.col("c")).otherwise(0)
            ).alias("d3n"),
            F.sum(F.when(F.col("k") == 3, F.col("c")).otherwise(0)).alias("d3d"),
            F.sum(
                F.when(
                    F.col("k") == 1,
                    (F.col("c").cast("decimal(10,0)") * F.col("nll_w")).cast(
                        "decimal(28,6)"
                    ),
                )
            ).alias("nll_sum"),
            F.sum(F.when(F.col("k") == 1, F.col("c")))
            .cast("bigint")
            .alias("n_tok_nll"),
        )
    )
    hi = F.col("nll_sum") > F.lit("3.5").cast("decimal(2,1)") * F.col("n_tok_nll")
    bpf = F.when(
        F.col("n_gr") > 0,
        F.round(
            (F.col("n_gr") - F.coalesce(F.col("n_unshared"), F.lit(0)))
            .cast("double")
            / F.col("n_gr"),
            6,
        ),
    ).otherwise(F.lit(0.0))
    t2s = F.when(
        F.col("n_tokd") >= 2, F.round(2.0 * F.col("m2") / F.col("n_tokd"), 6)
    ).otherwise(F.lit(0.0))
    d3f = F.when(
        F.coalesce(F.col("d3d"), F.lit(0)) > 0,
        F.round(F.col("d3n").cast("double") / F.col("d3d").cast("double"), 6),
    ).otherwise(F.lit(0.0))
    # Expansion: per-rep metrics attach to every member (identical text ⇒
    # identical per-doc values); `source` comes from the raw doc row. The
    # array columns in `base` are column-pruned out of this branch.
    metrics = (
        base.join(docagg, "doc_id", "left")
        .join(bp, "doc_id", "left")
        .drop("gc")  # members carries the authoritative copy
        .withColumnRenamed("doc_id", "rep")
    )
    return (
        members.join(metrics, "rep")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("score").cast("decimal(18,6)")).cast("double").alias("total_score"),
            F.sum(F.when(F.col("score") >= 0.5, 1).otherwise(0))
            .cast("bigint")
            .alias("n_good"),
            F.sum(F.col("ttr").cast("decimal(18,6)")).cast("double").alias("total_ttr"),
            F.sum(F.when(F.col("ttr") < 0.3, 1).otherwise(0))
            .cast("bigint")
            .alias("n_repetitious"),
            F.sum(F.coalesce(F.col("nll_sum"), F.lit(0).cast("decimal(28,6)")))
            .cast("double")
            .alias("total_nll"),
            F.sum(F.when(hi, 1).otherwise(0)).cast("bigint").alias("n_hi_surprisal"),
            F.sum(bpf.cast("decimal(18,6)")).cast("double").alias("total_bp_frac"),
            F.sum(F.when(bpf >= 0.5, 1).otherwise(0))
            .cast("bigint")
            .alias("n_boilerplate"),
            F.sum(t2s.cast("decimal(18,6)"))
            .cast("double")
            .alias("total_top2_share"),
            F.sum(F.when(t2s >= 0.2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_top2_heavy"),
            F.sum(d3f.cast("decimal(18,6)"))
            .cast("double")
            .alias("total_dup3_frac"),
            F.sum(F.when(d3f >= 0.02, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup3_heavy"),
        )
    )


_Q33_SAMPLE_FRAC = 0.10  # deterministic hash-sample rate (salt "s1")
_Q33_TEST_FRAC = 0.20  # train/test split rate (salt "split")
_Q33_QUOTA = 200  # per-source quota (balanced-mixture sampling)


def _q33_oracle() -> str:
    from minarrow_spark.functions.text import PII_EMAIL, PII_IPV4, PII_PHONE
    from minarrow_spark.operators.sampling import hex_threshold

    t_s = hex_threshold(_Q33_SAMPLE_FRAC)
    t_t = hex_threshold(_Q33_TEST_FRAC)
    return f"""
    WITH fps AS (
      SELECT source, doc_id, n_chars,
             md5(regexp_replace(lower(trim(text)), '[ \\t\\n\\r\\f]+', ' ', 'g')) AS fp,
             substr(md5('s1|' || CAST(doc_id AS VARCHAR)), 1, 8) AS h_s,
             substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 8) AS h_t,
             substr(md5('q|' || CAST(doc_id AS VARCHAR)), 1, 8) AS h_q
      FROM documents
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h_q, doc_id)
               AS qr
      FROM fps
    ),
    acc AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
             MIN(fp) AS min_fp,
             CAST(SUM(CASE WHEN h_s < '{t_s}' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sample,
             CAST(SUM(CASE WHEN h_s < '{t_s}' THEN n_chars ELSE 0 END)
                  AS BIGINT) AS sample_chars,
             CAST(SUM(CASE WHEN h_t < '{t_t}' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_test,
             CAST(SUM(CASE WHEN qr <= {_Q33_QUOTA} THEN n_chars ELSE 0 END)
                  AS BIGINT) AS quota_chars
      FROM ranked GROUP BY source
    ),
    tok AS (
      SELECT doc_id, source,
             unnest(regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f]+')) AS term
      FROM documents
    ),
    tf AS (SELECT source, term, COUNT(*) AS tf FROM tok GROUP BY source, term),
    dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    nd AS (SELECT COUNT(*) AS n FROM documents),
    scoredterms AS (
      SELECT tf.source, tf.term,
             round(tf.tf * round(ln(CAST(nd.n AS DOUBLE) / dfreq.df), 6), 6)
               AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN nd
    ),
    topt AS (
      SELECT source, term, tfidf,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY tfidf DESC, term) AS r
      FROM scoredterms
    ),
    tops AS (
      SELECT source,
             concat_ws(',', MAX(CASE WHEN r = 1 THEN term END),
                            MAX(CASE WHEN r = 2 THEN term END),
                            MAX(CASE WHEN r = 3 THEN term END)) AS top_terms,
             MAX(CASE WHEN r = 1 THEN tfidf END) AS top_tfidf
      FROM topt WHERE r <= 3 GROUP BY source
    ),
    piidocs AS (
      SELECT source,
             text
             || CASE WHEN doc_id % 7 = 0
                     THEN ' contact u' || CAST(doc_id AS VARCHAR)
                          || '@example.com now' ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                     THEN ' call 415-555-'
                          || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END
             || CASE WHEN doc_id % 13 = 0
                     THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                          || '.' || CAST(doc_id % 97 AS VARCHAR)
                     ELSE '' END AS t
      FROM documents
    ),
    piic AS (
      SELECT source,
             len(regexp_extract_all(t, '{PII_EMAIL}')) AS n_em,
             len(regexp_extract_all(t, '{PII_PHONE}')) AS n_ph,
             len(regexp_extract_all(t, '{PII_IPV4}')) AS n_ip,
             md5(regexp_replace(regexp_replace(regexp_replace(
                   t, '{PII_EMAIL}', '<EMAIL>', 'g'),
                   '{PII_PHONE}', '<PHONE>', 'g'),
                   '{PII_IPV4}', '<IP>', 'g')) AS rfp
      FROM piidocs
    ),
    pii AS (
      SELECT source,
             CAST(SUM(n_em) AS BIGINT) AS n_emails,
             CAST(SUM(n_ph) AS BIGINT) AS n_phones,
             CAST(SUM(n_ip) AS BIGINT) AS n_ips,
             CAST(SUM(CASE WHEN n_em + n_ph + n_ip > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_pii_docs,
             MIN(rfp) AS pii_min_fp
      FROM piic GROUP BY source
    )
    SELECT acc.*, tops.top_terms, tops.top_tfidf,
           pii.n_emails, pii.n_phones, pii.n_ips, pii.n_pii_docs,
           pii.pii_min_fp
    FROM acc JOIN tops USING (source) JOIN pii USING (source)
    """


@query(
    "q33_fingerprint",
    oracle=_q33_oracle(),
    tags=("text", "fingerprint", "tfidf", "sampling", "pii"),
)
def q33_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus accounting suite: fingerprint uniqueness +
    deterministic sampling + TF-IDF characteristic terms + PII scrub
    accounting.

    * Normalized-text md5 fingerprinting (the scalable pre-pass for exact
      dedup): doc counts, distinct fingerprints, min fingerprint.
    * Deterministic hash sampling (operators/sampling.py): 10% sample
      counts/chars, 20% test-split counts — the reproducible, joinable
      alternative to per-row RNG at 100 TB (pure filter, no shuffle), here
      verified cross-engine against the identical md5-threshold oracle.
    * Per-source quota sampling (balanced-mixture lever): chars of the 200
      docs with the smallest salted hash per source — two-phase at scale
      (per-partition top-K then merge; here the rank window on the source
      key, one shuffle).
    * TF-IDF: tf over (source, term), doc-level df, idf = ln(N/df) rounded
      per-value to 6 digits (the q32 transcendental-determinism pattern),
      top-3 terms per source with (tfidf desc, term) tie-break.
    * PII scrub: emails/phones/IPv4 detected and redacted to typed
      placeholders over a deterministically-injected corpus (known
      positives on doc_id mod 7/11/13); per-source match counts plus the
      min-md5 of the redacted text (byte-identical-redaction proof).

    One documents scan feeds the accounting branch; the token explode feeds
    tf and df aggs with map-side combine; per-source results join broadcast.
    """
    from minarrow_spark.operators.sampling import hash_key, hex_threshold

    d = par(T(spark, sf_dir, "documents"))
    fp = fingerprint(F.col("text"))
    base = d.select(
        "source",
        "doc_id",
        "n_chars",
        fp.alias("fp"),
        hash_key(F.col("doc_id"), "s1").alias("h_s"),
        hash_key(F.col("doc_id"), "split").alias("h_t"),
        hash_key(F.col("doc_id"), "q").alias("h_q"),
    )
    in_sample = F.col("h_s") < F.lit(hex_threshold(_Q33_SAMPLE_FRAC))
    in_test = F.col("h_t") < F.lit(hex_threshold(_Q33_TEST_FRAC))
    qw = W.partitionBy("source").orderBy("h_q", "doc_id")
    acc = (
        base.withColumn("qr", F.row_number().over(qw))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_unique"),
            F.min("fp").alias("min_fp"),
            F.sum(F.when(in_sample, 1).otherwise(0)).cast("bigint").alias("n_sample"),
            F.sum(F.when(in_sample, F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("sample_chars"),
            F.sum(F.when(in_test, 1).otherwise(0)).cast("bigint").alias("n_test"),
            F.sum(F.when(F.col("qr") <= _Q33_QUOTA, F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("quota_chars"),
        )
    )
    tok = d.select("doc_id", "source", F.explode(tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        tok.select("doc_id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    nd = d.agg(F.count(F.lit(1)).alias("n"))
    idf = F.round(F.log(F.col("n").cast("double") / F.col("df")), 6)
    scored = tf.join(F.broadcast(dfreq.crossJoin(nd)), "term").select(
        "source", "term", F.round(F.col("tf") * idf, 6).alias("tfidf")
    )
    tw = W.partitionBy("source").orderBy(F.col("tfidf").desc(), "term")
    topt = scored.withColumn("r", F.row_number().over(tw)).filter(F.col("r") <= 3)
    tops = topt.groupBy("source").agg(
        F.concat_ws(
            ",",
            F.max(F.when(F.col("r") == 1, F.col("term"))),
            F.max(F.when(F.col("r") == 2, F.col("term"))),
            F.max(F.when(F.col("r") == 3, F.col("term"))),
        ).alias("top_terms"),
        F.max(F.when(F.col("r") == 1, F.col("tfidf"))).alias("top_tfidf"),
    )

    # PII tier: deterministic synthetic PII injected (emails on doc_id%7,
    # phones on %11, IPv4 on %13 — the known-positive population the scrub
    # must catch), then detect + redact via the shared regex contract
    # (functions/text.py PII_*). Counts sum per source; min-md5 of the
    # redacted text proves the redaction itself is byte-identical
    # cross-engine, not just the counts. One codegen'd projection, one
    # map-side-combined agg — no shuffle beyond the per-source rollup.
    from minarrow_spark.functions.text import pii_counts, redact_pii

    did = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" contact u"), did.cast("string"), F.lit("@example.com now")
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 11 == 0,
            F.concat(
                F.lit(" call 415-555-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 13 == 0,
            F.concat(
                F.lit(" host 10.0."),
                (did % 256).cast("string"),
                F.lit("."),
                (did % 97).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    cts = pii_counts(F.col("t"))
    pii = (
        d.select("source", injected.alias("t"))
        .select(
            "source",
            cts["n_emails"].alias("n_em"),
            cts["n_phones"].alias("n_ph"),
            cts["n_ips"].alias("n_ip"),
            F.md5(redact_pii(F.col("t"))).alias("rfp"),
        )
        .groupBy("source")
        .agg(
            F.sum("n_em").cast("bigint").alias("n_emails"),
            F.sum("n_ph").cast("bigint").alias("n_phones"),
            F.sum("n_ip").cast("bigint").alias("n_ips"),
            F.sum(
                F.when(F.col("n_em") + F.col("n_ph") + F.col("n_ip") > 0, 1).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("n_pii_docs"),
            F.min("rfp").alias("pii_min_fp"),
        )
    )
    return acc.join(F.broadcast(tops), "source").join(F.broadcast(pii), "source")


@query(
    "q41_decontaminate",
    oracle="""
    WITH base AS (
      SELECT doc_id, lower(trim(text)) AS text FROM documents
    ),
    bench AS (SELECT * FROM base WHERE doc_id % 25 = 0),
    train AS (
      SELECT doc_id, text FROM base WHERE doc_id % 25 <> 0
      UNION ALL
      SELECT doc_id + 200000,
             array_to_string(regexp_split_to_array(text, '[ \\t\\n\\r\\f]+')[6:], ' ')
      FROM bench
    ),
    bg AS (
      SELECT DISTINCT
             unnest(list_transform(range(1, greatest(len(w) - 6, 1)),
                                   i -> array_to_string(w[i:i+7], ' '))) AS gram
      FROM (SELECT regexp_split_to_array(text, '[ \\t\\n\\r\\f]+') AS w FROM bench)
    ),
    tg0 AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(w) - 6, 1)),
                                   i -> array_to_string(w[i:i+7], ' '))) AS gram
      FROM (SELECT doc_id, regexp_split_to_array(text, '[ \\t\\n\\r\\f]+') AS w FROM train)
    ),
    tg AS (SELECT DISTINCT doc_id, gram FROM tg0),
    cnt AS (SELECT doc_id, COUNT(*) AS n_grams FROM tg GROUP BY doc_id),
    ntr AS (SELECT COUNT(*) AS n FROM train),
    sh AS (SELECT tg.doc_id, tg.gram FROM tg JOIN bg ON tg.gram = bg.gram),
    dfg AS (SELECT gram, COUNT(*) AS df FROM sh GROUP BY gram),
    sev AS (
      SELECT sh.doc_id, COUNT(*) AS n_shared,
             SUM(CAST(round(ln(CAST(ntr.n AS DOUBLE) / dfg.df), 6)
                      AS DECIMAL(18,6))) AS severity
      FROM sh JOIN dfg USING (gram) CROSS JOIN ntr
      GROUP BY sh.doc_id
    )
    SELECT s.doc_id, CAST(s.n_shared AS BIGINT) AS n_shared,
           round(CAST(s.n_shared AS DOUBLE) / c.n_grams, 6) AS frac_shared,
           CAST(s.severity AS DOUBLE) AS severity
    FROM sev s JOIN cnt c ON c.doc_id = s.doc_id
    """,
    tags=("text", "decontaminate"),
)
def q41_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: find training documents sharing any
    8-token shingle with an evaluation set — the standard n-gram-overlap
    contamination check a training pipeline runs before release. Every
    25th doc stands in for the benchmark; the training side is the rest
    plus token-dropped copies of the benchmark docs (id +200000), the
    known-contaminated population the check must catch.

    Alongside the raw overlap, each contaminated doc gets a BM25-flavored
    SEVERITY: the sum of idf weights ln(N_train/df) over its shared grams —
    many-document boilerplate grams weigh little, a rare benchmark-specific
    gram weighs a lot (the ranked-retrieval weighting applied to
    contamination triage). Weights use the per-value-round-then-exact-sum
    transcendental contract (q32).

    Scale shape: the benchmark gram set is DISTINCT'd then broadcast —
    eval benchmarks are MB-scale against a 100 TB corpus, so the training
    side's grams explode map-side and probe the broadcast hash table with
    no shuffle; the only fact-side shuffles are the map-side-combined
    per-doc groupBys. Doc-frequency for the idf weights is computed ONLY
    over the shared-gram set (benchmark-bounded, not corpus-bounded), which
    is GC-scope checkpointed once so the heavy train-side shingle pass is
    not re-evaluated per consumer. Per-doc distinct grams stay in per-row
    arrays until the explode (same zero-shuffle trick as q35)."""
    from minarrow_spark.functions.text import shingle_hashes

    d = par(T(spark, sf_dir, "documents"))
    base = d.select("doc_id", F.lower(F.trim("text")).alias("text"))
    bench = base.filter(F.col("doc_id") % 25 == 0)
    toks = F.split(F.col("text"), WS)
    variants = bench.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 6, F.size(toks))).alias("text"),
    )
    train = base.filter(F.col("doc_id") % 25 != 0).unionByName(variants)
    # Exact-content collapse (r7 task 4 — the q35/q36/q37 discipline applied
    # to the contamination check): identical train text ⇒ identical gram
    # set ⇒ identical (n_shared, frac_shared, severity), so the heavy
    # shingle+explode pass runs on ONE representative per distinct text and
    # per-doc rows expand through the slim members table afterwards. The
    # one multiplicity-sensitive quantity is gram doc-frequency (df counts
    # DOCS, clones included) — computed as Σ group-size over the reps
    # containing the gram, which is exact. At the 100× replica point this
    # deletes ~99% of the train-side shingle work; on clone-free data the
    # overhead is the fp projection + one slim window + the expansion join.
    members = (
        train.select("doc_id", F.md5("text").alias("fp"))
        .withColumn("rep", F.min("doc_id").over(W.partitionBy("fp")))
        .select("doc_id", "rep")
        .localCheckpoint(eager=True)  # slim; feeds ntr, gsz, rep filter, expansion
    )
    rep_ids = members.filter(F.col("doc_id") == F.col("rep")).select("doc_id")
    gsz = members.groupBy("rep").agg(F.count(F.lit(1)).alias("gc"))
    # No broadcast hint on the rep filter: rep count == distinct-text count,
    # which is corpus-sized on clone-free data — AQE broadcasts when small.
    train_reps = train.join(rep_ids, "doc_id", "left_semi")
    # Grams as xxhash64 keys, never strings (shingle_hashes): every gram
    # use below is equality/grouping — the broadcast probe, the df
    # groupBy, the weight attach — so the 8-byte key replaces a ~60-byte
    # string AND deletes the per-gram concat_ws allocation in the heavy
    # rep-side shingle pass. Oracle recomputes with strings independently;
    # counts/severity agree under the collapse-key soundness class. The
    # string form is pinned against it in test_semantics_props
    # (SCALE.md q41 row).
    garr = lambda df: df.select(
        "doc_id", F.array_distinct(shingle_hashes(F.col("text"), 8)).alias("garr")
    )
    bg = garr(bench).select(F.explode("garr").alias("gram")).distinct()
    # n_grams rides every exploded gram row (one long of payload): the
    # final report only needs the denominator for CONTAMINATED docs, all
    # of which survive the bench-gram join — so the separate
    # size-of-garr projection (a SECOND full train-side shingle pass; no
    # exchange below it means no runtime reuse) is gone entirely.
    tg = garr(train_reps).select(
        F.col("doc_id").alias("rep"),
        F.size("garr").alias("n_grams"),
        F.explode("garr").alias("gram"),
    )
    ntr = members.agg(F.count(F.lit(1)).alias("n"))  # train size, no text scan
    # Shared (rep, gram) rows: benchmark-bounded, feeds two consumers
    # (doc-frequency + weighted rollup) — materialize once, GC-scoped.
    # eager=False is safe ONLY because the dfg side below is an explicit
    # F.broadcast: the broadcast job runs (and materializes this checkpoint)
    # strictly before the probe stage, so first touch is sequential. If the
    # dfg attach ever stops broadcasting (scale/AQE fallback to a shuffle
    # join), first touch becomes concurrent and the heavy train-side shingle
    # pass runs twice (the q35 failure mode) — switch to eager=True then.
    shared = (
        tg.join(F.broadcast(bg), "gram").localCheckpoint(eager=False)
    )
    dfg = (
        shared.join(gsz, "rep")
        .groupBy("gram")
        .agg(F.sum("gc").cast("bigint").alias("df"))
    )
    w = (
        F.round(F.log(F.col("n").cast("double") / F.col("df")), 6)
        .cast("decimal(18,6)")
        .alias("w")
    )
    sev = (
        shared.join(F.broadcast(dfg.crossJoin(ntr).select("gram", w)), "gram")
        .groupBy("rep")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.sum("w").alias("severity"),
            # constant within the group (per-doc denominator carried on
            # every gram row) — first() is deterministic on a uniform value
            F.first("n_grams").alias("n_grams"),
        )
    )
    # Expansion: every member of a contaminated rep group is contaminated
    # with the SAME metrics (identical text); sev is benchmark-bounded, so
    # AQE broadcasts it against the slim members table.
    return members.join(sev, "rep").select(
        "doc_id",
        F.col("n_shared").cast("bigint").alias("n_shared"),
        F.round(
            F.col("n_shared").cast("double") / F.col("n_grams"), 6
        ).alias("frac_shared"),
        F.col("severity").cast("double").alias("severity"),
    )

_PACK_BUDGET = 512  # tokens per training chunk
_PACK_SHARDS = 8    # parallel packing shards per language


@query(
    "q42_sequence_packing",
    oracle=f"""
    WITH t AS (
      SELECT lang, doc_id % {_PACK_SHARDS} AS shard, doc_id,
             CAST({_SQL_TOKENS} AS BIGINT) AS n_tok
      FROM documents
    ), c AS (
      SELECT lang, shard, n_tok,
             COALESCE(SUM(n_tok) OVER (
               PARTITION BY lang, shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM t
    )
    SELECT lang, CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST((SUM(n_tok) + {_PACK_BUDGET - 1}) // {_PACK_BUDGET} AS BIGINT)
             AS n_chunks,
           CAST(SUM(CASE WHEN (cum_before + greatest(n_tok, 1) - 1)
                               // {_PACK_BUDGET}
                          <> cum_before // {_PACK_BUDGET}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers,
           CAST(({_PACK_BUDGET} - SUM(n_tok) % {_PACK_BUDGET})
                % {_PACK_BUDGET} AS BIGINT) AS tail_pad
    FROM c
    GROUP BY lang, shard
    """,
    tags=("text", "packing", "W4"),
    bench=True,  # tracks the packing/cumulative-window tier round-over-round
)
def q42_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing accounting for the concat-and-chunk pretraining
    regime: documents are concatenated in deterministic (lang, shard,
    doc_id) order and cut into fixed 512-token chunks. Per (lang, shard)
    pack: chunk count, documents straddling a chunk boundary (the loss-
    masking cost that motivates smarter packing), and final-chunk padding
    waste. Integer math end-to-end (exact `div`, no floats) so the oracle
    hash is exact.

    Scale shape: packing is sequential *within* a pack but embarrassingly
    parallel *across* packs — the shard key is the parallelism knob (in a
    real 100 TB run: one pack per input split). The cumulative window
    partitions on (lang, shard) and the final rollup groups on the same
    key, so Catalyst reuses the window's hash partitioning: ONE shuffle
    total (pinned in tests/test_plans.py)."""
    from minarrow_spark.functions.arithmetic import floordiv_int_sql as fd

    B, S = _PACK_BUDGET, _PACK_SHARDS
    d = par(T(spark, sf_dir, "documents"))
    # Expressions as SQL strings (r11 — the q01/q10 build-cut pattern,
    # mechanical transcription of the Column form; this was the largest
    # zero-job builder left on the bench-timed path, ~0.35 s of ~85 py4j
    # round-trips per build). Same plan (r11 after-dump diff empty modulo
    # expression ids); the floordiv/token-count contracts stay single-
    # sourced in their *_sql emitters. Literal-type notes:
    # bare integer SQL literals are INT like F.lit(n) (only fractional
    # literals flip to DECIMAL — the q10 lesson); the chunk-budget divisor
    # keeps its explicit CAST(512 AS BIGINT) from the Column form.
    t = d.selectExpr(
        "lang",
        f"doc_id % {S} AS shard",
        "doc_id",
        f"{token_count_sql('`text`')} AS n_tok",
    )
    c = t.selectExpr(
        "lang",
        "shard",
        "n_tok",
        "COALESCE(SUM(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before",
    )
    bud = f"CAST({B} AS BIGINT)"
    straddle = (
        f"({fd(f'cum_before + greatest(n_tok, 1) - 1', bud)})"
        f" != ({fd('cum_before', bud)})"
    )
    return c.groupBy("lang", F.expr("CAST(shard AS BIGINT) AS shard")).agg(
        F.expr("count(1) AS n_docs"),
        F.expr("CAST(sum(n_tok) AS BIGINT) AS total_tokens"),
        F.expr(f"CAST({fd(f'sum(n_tok) + {B - 1}', bud)} AS BIGINT) AS n_chunks"),
        F.expr(
            f"CAST(sum(CASE WHEN {straddle} THEN 1 ELSE 0 END) AS BIGINT)"
            " AS n_straddlers"
        ),
        F.expr(f"CAST(({B} - sum(n_tok) % {B}) % {B} AS BIGINT) AS tail_pad"),
    )
