"""Text-analysis operators for training-data pipelines (documents table).

All pure Column logic — no Python UDFs — so every operator runs on the JVM
AND has an exactly-mirroring ANSI-SQL oracle (DuckDB). Operators that use a
higher-order function (``transform``/``filter`` in ``detect_language`` and
``fingerprints``) run that Project outside whole-stage codegen: those
functions are ``CodegenFallback`` and are evaluated row by row.
Hash-bearing operators use md5-derived 60-bit integers (not xxhash64) because
md5 is bit-identical across engines; at production scale swap ``_md5_60`` for
``F.xxhash64`` (same shape, ~3× faster, Spark-only).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from address_parser_spark.operators.partitioning import fan_out

# Language-ID stopword profiles (tiny, deterministic; the operator contract is
# the argmax rule, not linguistic accuracy — real deployments plug in fastText
# or a char-n-gram profile table on the same dataflow).
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "que", "y"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "vi": ["cua", "va", "la", "nhung", "mot"],
}

STOPWORDS_EN = ["the", "a", "of", "and", "to", "in", "is"]


def _md5_60(col: Column) -> Column:
    """Cross-engine deterministic 60-bit hash: first 15 hex chars of md5."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def tokens_col(text: Column) -> Column:
    """Whitespace tokens with empties dropped (mirrors ``\\s+`` split).
    ``array_remove`` rather than a ``filter`` lambda: ``split`` never yields
    a null element, so the result is the same, and the expression stays
    code-generated (higher-order functions are ``CodegenFallback``)."""
    return F.array_remove(F.split(text, r"\s+"), "")


def shingle_starts(toks: Column, k: int) -> Column:
    """The 1-based start of every word k-shingle of ``toks``:
    ``sequence(1, greatest(n−k+1, 1))``. A list shorter than ``k`` (empty
    or null too) gets the one start 1, and ``slice(toks, 1, k)`` is then the
    whole list: a short text is one shingle, with no branch."""
    return F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1)))


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, chars, mean token
    length (SURVEY §2 'token counting' for training-data pipelines).

    Tokenizes LOWERCASED text — same as detect_language / dedup.with_word_shingles
    and the DuckDB oracle — so distinct-token counts are case-insensitive on
    any input, not just all-lowercase fixtures.

    The token array is staged as a real column: it feeds three output
    expressions, and an inlined Column tree re-splits the text per consumer."""
    toks = F.col("_tq_toks")
    staged = fan_out(docs).withColumn("_tq_toks", tokens_col(F.lower(F.col(text_col))))
    return staged.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.length(text_col).alias("n_chars"),
        F.round(
            F.length(F.regexp_replace(F.col(text_col), r"\s+", "")) /
            F.greatest(F.size(toks), F.lit(1)),
            4,
        ).alias("mean_token_len"),
    )


def quality_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document quality: alpha ratio, stopword ratio, repetition
    ratio; composite flag. Classic pretraining-corpus filters (Gopher-style
    rules) as pure column math. Tokenizes lowercased text (mirrors the
    oracle's lower(text) tokenization). Token array staged (see token_stats)."""
    toks = F.col("_tq_toks")
    staged = fan_out(docs).withColumn("_tq_toks", tokens_col(F.lower(F.col(text_col))))
    n_tokens = F.greatest(F.size(toks), F.lit(1))
    alpha_ratio = F.round(
        F.length(F.regexp_replace(F.col(text_col), r"[^a-zA-Z]", ""))
        / F.greatest(F.length(text_col), F.lit(1)),
        4,
    )
    stop_hits = F.size(F.array_intersect(toks, F.array(*[F.lit(s) for s in STOPWORDS_EN])))
    repetition = F.round(F.lit(1.0) - F.size(F.array_distinct(toks)) / n_tokens, 4)
    return staged.select(
        "doc_id",
        alpha_ratio.alias("alpha_ratio"),
        stop_hits.alias("stopword_hits"),
        repetition.alias("repetition_ratio"),
        (
            (alpha_ratio >= 0.5) & (F.size(toks) >= 10) & (repetition <= 0.95)
        ).alias("passes_quality"),
    )


def detect_language(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-profile language ID: argmax of per-language hit counts over
    whitespace tokens; ties (or zero hits) → 'und'. Deterministic tie-break:
    language name ascending. Token array staged (see token_stats) — the five
    per-language filters would otherwise each re-split the text."""
    toks = F.col("_tq_toks")
    staged = fan_out(docs).withColumn("_tq_toks", tokens_col(F.lower(F.col(text_col))))

    def _in_words(words):
        arr = F.array(*[F.lit(w) for w in words])
        return lambda t: F.array_contains(arr, t)  # single-arg: element-only lambda

    scores = [
        F.struct(
            F.size(F.filter(toks, _in_words(words))).alias("hits"),
            F.lit(lang).alias("lang"),
        )
        for lang, words in sorted(LANG_PROFILES.items())
    ]
    # argmax by (hits desc, lang asc): sort ascending on (hits, negated-lang
    # is impossible for strings) → pick max by struct ordering with inverted
    # lang via max of (hits, reversed rank). Simpler: array_max over
    # (hits, rank) where rank favors earlier names on ties.
    ranked = [
        F.struct(
            s["hits"].alias("hits"),
            F.lit(len(LANG_PROFILES) - i).alias("pref"),
            s["lang"].alias("lang"),
        )
        for i, s in enumerate(scores)
    ]
    best = F.array_max(F.array(*ranked))
    return staged.select(
        "doc_id",
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")).alias("lang_pred"),
        best["hits"].alias("lang_hits"),
    )


def fingerprints(docs: DataFrame, text_col: str = "text", shingle_k: int = 3,
                 fast_hash: bool = False) -> DataFrame:
    """Document fingerprinting: content hash + min-hash over word k-shingles
    (a single-permutation MinHash — the scale path uses the full banded
    variant in ``dedup.minhash_signatures``). Default hashes are md5-derived
    (bit-identical to the DuckDB oracle); ``fast_hash=True`` switches to
    xxhash64 for the production/bench path."""
    shingle_hash = (lambda c: F.xxhash64(c)) if fast_hash else _md5_60
    content_hash = (
        (lambda c: F.xxhash64(c).cast("string")) if fast_hash else F.md5
    )
    # Stage norm/toks/shingles as REAL columns: each is consumed by 2-3
    # downstream expressions, and a Column is an expression tree — inlining
    # re-evaluates the whole shingle generation per consumer (the same
    # CollapseProject trap dedup.with_word_shingles stages around).
    norm = F.col("_fp_norm")
    toks = F.col("_fp_toks")
    staged = (
        fan_out(docs)
        .withColumn("_fp_norm", F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
        .withColumn("_fp_toks", tokens_col(norm))
        .withColumn(
            "_fp_shingles",
            F.transform(
                shingle_starts(toks, shingle_k),
                lambda i: F.concat_ws(" ", F.slice(toks, i, shingle_k)),
            ),
        )
    )
    shingles = F.col("_fp_shingles")
    return staged.select(
        "doc_id",
        content_hash(norm).alias("content_md5"),
        F.array_min(F.transform(shingles, shingle_hash)).alias("min_shingle_hash"),
        F.size(F.array_distinct(shingles)).alias("n_shingles"),
    )
