"""Text-analysis primitives for large-scale training-data pipelines.

Beyond the reference's operator set (its string kernels are T1-T20); these are
the document-corpus operations a 100 TB text pipeline needs: tokenization,
language ID, quality scoring, fingerprinting. All are pure Catalyst
expressions (whole-stage codegen, no Python in the hot path); the heuristic
formulas are deliberately rational-arithmetic-only so results are
bit-deterministic across engines for oracle checking.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from minarrow_spark._sql import ident

# Per-language stopword regexes (word-boundary anchored). Deliberately tiny:
# this is an n-gram/stopword *heuristic*, not a model — the point is the
# distributed shape (one codegen'd projection), not linguistic accuracy.
LANG_PATTERNS: dict[str, str] = {
    "en": r"\b(the|of|and|to|a|in|is|it)\b",
    "es": r"\b(el|la|de|que|y|los|en|un)\b",
    "fr": r"\b(le|la|les|de|et|un|une|des)\b",
    "de": r"\b(der|die|das|und|ist|ein|nicht|mit)\b",
    "zh": r"\b(de|shi|le|wo|ni|ta|zai|you)\b",
}

PUNCT_PATTERN = r"[.,;:!?]"

# THE whitespace class, pinned identically on both engines. Java regex `\s`
# (Spark) is [ \t\n\x0B\f\r] while RE2 `\s` (the DuckDB oracles) is
# [ \t\n\f\r] — one vertical tab in a future corpus would flip every
# tokenize/fingerprint/simhash value on exactly one engine (the r5 verdict's
# latent-divergence find). Every paired Spark-split/oracle-split uses this
# explicit class instead; \x0B itself is stripped by `normalize_text`'s
# control-character pass, so the cleaning tier still collapses it. The raw
# literal below is byte-identical when embedded in a DuckDB SQL string
# (RE2 reads the same \t \n \r \f escapes inside a class).
WS = r"[ \t\n\r\f]+"


def let_(col: Column, body) -> Column:
    """Bind ``col`` to a lambda variable so ``body`` evaluates it exactly once.

    Catalyst collapses projections and inlines expressions into
    higher-order-function lambdas without common-subexpression elimination,
    so ``transform(seq, i -> f(expensive, i))`` re-evaluates ``expensive``
    per element. ``transform(array(expensive), x -> body(x))[0]`` forces a
    single evaluation — a let-binding expressed in Catalyst itself. Works at
    any scale: it is still one codegen'd projection, no Python boundary."""
    return F.element_at(F.transform(F.array(col), body), 1)


def token_count_sql(text: str) -> str:
    """Whitespace token count of the SQL expression ``text`` as a BIGINT
    Spark SQL expression; '' → 0 (split('') yields [''] otherwise). Column
    call sites wrap it in ``F.expr`` (names quoted via
    ``minarrow_spark._sql.ident``): one parse round-trip instead of ~10 py4j
    Column ops. The regex is THIS module's ``WS``, backslash-escaped so the
    Spark SQL parser yields the byte-identical pattern string (a bare
    ``\\t`` in a SQL literal would become a literal tab — same regex
    semantics but a different pattern byte sequence). Pinned in
    tests/test_semantics_props.py."""
    ws = WS.replace("\\", "\\\\")
    return (
        f"CAST(CASE WHEN trim({text}) = '' THEN 0 "
        f"ELSE size(split(trim({text}), '{ws}')) END AS BIGINT)"
    )


def tokens(text: Column) -> Column:
    """Whitespace tokens as an array<string> (lowercased)."""
    return F.split(F.lower(F.trim(text)), WS)


# BPE-style pre-tokenizer pattern (the GPT-2 family's shape: contractions,
# letter runs, digit runs, punctuation runs, each optionally space-prefixed).
# Restricted to lookahead-free syntax on purpose: Spark compiles Java regex,
# DuckDB compiles RE2 — both honor leftmost alternation preference, but RE2
# has no lookahead, so the canonical `\s+(?!\S)` tail is dropped (counting is
# unaffected: trailing whitespace runs merge into the final token either way).
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 \t\n\r\f]+"


def bpe_token_count(text: Column) -> Column:
    """BPE-ish subword-boundary token count: the number of BPE_PATTERN
    matches over the lowercased text — the pre-merge token count a
    byte-pair-encoding tokenizer would start from (whitespace collapses into
    the following token, contractions split off). One codegen'd
    regexp_count, embarrassingly parallel; '' → 0 naturally."""
    return F.regexp_count(F.lower(text), F.lit(BPE_PATTERN)).cast("bigint")


def lang_scores(text: Column) -> dict[str, Column]:
    return {
        lang: F.regexp_count(F.lower(text), F.lit(pat)).cast("bigint")
        for lang, pat in LANG_PATTERNS.items()
    }


def lang_predict(text: Column) -> Column:
    """argmax over stopword-hit scores with fixed priority order (en, es, fr,
    de, zh) for ties — deterministic, SQL-expressible."""
    scores = lang_scores(text)
    langs = list(LANG_PATTERNS)
    expr = F.lit(langs[-1])
    for lang in reversed(langs[:-1]):
        cond = None
        for other in langs:
            if other == lang:
                continue
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def quality_score(text_col: str) -> Column:
    """Rational-arithmetic quality score in (0, 1] of column ``text_col``:
    (3·stopword_hits + tokens) / (tokens + 5·punct + mean_token_len + 1).
    Long-word gibberish and punctuation soup score low; stopword-ful prose
    scores high. Pure double ops → bit-deterministic."""
    text = F.col(text_col)
    n_tok = F.expr(token_count_sql(ident(text_col))).cast("double")
    n_char = F.length(text).cast("double")
    stop = F.regexp_count(F.lower(text), F.lit(LANG_PATTERNS["en"])).cast("double")
    punct = F.regexp_count(text, F.lit(PUNCT_PATTERN)).cast("double")
    mean_tok_len = F.when(n_tok > 0, n_char / n_tok).otherwise(F.lit(0.0))
    return (3.0 * stop + n_tok) / (n_tok + 5.0 * punct + mean_tok_len + 1.0)


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of whitespace-normalized,
    lowercased text. The reference's rolling-hash fingerprint analog with a
    portable hash both engines implement identically."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), WS, " "))


def shingles(text: Column, k: int = 3) -> Column:
    """Word k-gram shingle array (for minhash / jaccard dedup).

    The token array is let-bound (see ``let_``): without it, every
    ``element_at`` inside the transform lambda re-runs the regex split —
    O(tokens × k) full-text splits per document (measured 17× slower at
    sf0.1)."""

    def body(t: Column) -> Column:
        n = F.size(t)
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(-1)))
        gram = lambda i: F.concat_ws(
            " ", *[F.element_at(t, (i + j + 1).cast("int")) for j in range(k)]
        )
        return F.when(n < k, F.array().cast("array<string>")).otherwise(
            F.transform(idx, gram)
        )

    return let_(tokens(text), body)


def shingle_hashes(text: Column, k: int = 3) -> Column:
    """Word k-gram shingles as 64-bit keys — xxhash64 over the k window
    tokens directly, so the gram STRING is never built (no per-gram
    concat allocation; every downstream join/group key is 8 bytes).
    Windows are identical to `shingles`; token join-with-space is
    injective (tokens are WS-split), so key equality matches string
    equality under the md5/xxhash collapse-key soundness class already
    adopted for q32's int-folded gram keys. Use for probe/df pipelines
    that never need the gram text (q41); keep `shingles` where the gram
    string is part of the contract."""

    def body(t: Column) -> Column:
        n = F.size(t)
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(-1)))
        gram = lambda i: F.xxhash64(
            *[F.element_at(t, (i + j + 1).cast("int")) for j in range(k)]
        )
        return F.when(n < k, F.array().cast("array<bigint>")).otherwise(
            F.transform(idx, gram)
        )

    return let_(tokens(text), body)


def char_grams(text: Column, n: int = 4) -> Column:
    """Character n-gram array over pre-normalized text (q37's jaccard
    grams; the caller whitespace-collapses/lowercases first). Texts
    shorter than n yield an empty array."""
    return let_(
        text,
        lambda t: F.when(
            F.length(t) < n, F.array().cast("array<string>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.length(t) - (n - 1)),
                lambda i: F.substring(t, i, F.lit(n)),
            )
        ),
    )


def char_gram_hashes(text: Column, n: int = 4) -> Column:
    """Character n-grams as xxhash64 keys — same windows as `char_grams`
    but the gram string is hashed to 8 bytes in place instead of being
    materialized into the array (the q41 `shingle_hashes` lesson applied
    to char grams, r8): every q37 downstream use (array_distinct, size,
    array_intersect) is equality-only, so key equality stands in for
    string equality under the established xxhash64 collapse-key soundness
    class. Use where the gram text never leaves the pipeline; keep
    `char_grams` where it does."""
    return let_(
        text,
        lambda t: F.when(
            F.length(t) < n, F.array().cast("array<bigint>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.length(t) - (n - 1)),
                lambda i: F.xxhash64(F.substring(t, i, F.lit(n))),
            )
        ),
    )


def normalize_text(text: Column) -> Column:
    """Cleaning-tier text normalization, pure Catalyst (codegen, zero
    Python): strip C0/C1 control characters (except \\t \\n \\r), drop
    zero-width/BOM code points, collapse all whitespace runs to single
    spaces, trim. The canonical pre-pass before fingerprinting/dedup so
    that invisible-character variants hash identically."""
    t = F.regexp_replace(text, r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]", "")
    # ZWSP/ZWNJ/ZWJ/WORD-JOINER/BOM, written as escapes (literal invisible
    # code points in source are unreviewable and formatter-fragile).
    t = F.regexp_replace(t, "[\\u200b\\u200c\\u200d\\u2060\\ufeff]", "")
    return F.trim(F.regexp_replace(t, WS, " "))


def normalize_text_nfc(df, text_col: str = "text", form: str = "NFC"):
    """Unicode canonical normalization (NFC/NFKC/NFD/NFKD) — no Catalyst
    builtin exists, so this runs as an Arrow-batched mapInArrow pass
    (vectorized pyarrow→python per batch, never per-row UDF overhead
    beyond the column itself). Schema is preserved; only ``text_col`` is
    rewritten. At 100 TB this is one streaming map stage, no shuffle.

    ASCII fast path (r9): every Unicode normalization form is the
    identity on pure-ASCII values (ASCII has no combining marks, no
    compatibility decompositions, nothing composes), and ASCII ⇔
    byte-length == char-length — two vectorized Arrow kernels. Batches
    with no non-ASCII value pass through untouched (zero per-value Python
    work — the common case for web-scale English corpora), and mixed
    batches only normalize the flagged values. Measured on q34's exact
    tier at the 100× point: the NFC stage's corpus is ~90% ASCII-clean
    partitions and the tier dropped ~2.5 s."""
    import unicodedata

    import pyarrow as pa
    import pyarrow.compute as pc

    schema = df.schema
    idx = schema.fieldNames().index(text_col)

    def norm_batches(batches):
        for batch in batches:
            col = batch.column(idx)
            nonascii = pc.fill_null(
                pc.not_equal(pc.binary_length(col), pc.utf8_length(col)),
                False,
            )
            if not pc.any(nonascii, min_count=0).as_py():
                yield batch
                continue
            flags = nonascii.to_pylist()
            normed = pa.array(
                [
                    unicodedata.normalize(form, v)
                    if (f and v is not None)
                    else v
                    for v, f in zip(col.to_pylist(), flags)
                ],
                type=col.type,
            )
            yield batch.set_column(idx, batch.schema.field(idx), normed)

    return df.mapInArrow(norm_batches, schema)


# PII patterns — lookahead-free on purpose (Java regex on the Spark side,
# RE2 in the DuckDB oracle; both support \b, \d, {m,n}, and alternation-free
# classes identically). Kept simple by design: the point is the distributed
# redaction shape (one codegen'd projection over the corpus), not a
# production-grade PII model.
PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-row PII match counts (email / phone / IPv4), each an independent
    codegen'd regexp_count over the raw text."""
    return {
        "n_emails": F.regexp_count(text, F.lit(PII_EMAIL)).cast("bigint"),
        "n_phones": F.regexp_count(text, F.lit(PII_PHONE)).cast("bigint"),
        "n_ips": F.regexp_count(text, F.lit(PII_IPV4)).cast("bigint"),
    }


def redact_pii(text: Column) -> Column:
    """Replace PII spans with typed placeholders (<EMAIL>/<PHONE>/<IP>) —
    email first so its dotted host can't half-match the IPv4 pass. Pure
    Catalyst regexp_replace chain: streams through a scan at 100 TB with
    no shuffle and no Python."""
    t = F.regexp_replace(text, PII_EMAIL, "<EMAIL>")
    t = F.regexp_replace(t, PII_PHONE, "<PHONE>")
    return F.regexp_replace(t, PII_IPV4, "<IP>")
