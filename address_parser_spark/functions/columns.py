"""Pure-Column (JVM, codegen-friendly) builders — the fast path.

These stay inside whole-stage codegen: no Python round-trip, no Arrow batch.
The n-gram window builder reproduces ``textops.ngrams.char_ngrams`` (and hence
the reference's ``generate_ngrams``) exactly, so blocking keys computed
JVM-side agree byte-for-byte with driver-side Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^31-1 for MinHash universal hashing: with a,b,h < 2^31 the
# product a·h+b stays below 2^63, so the expression is safe under ANSI-mode
# bigint arithmetic (no overflow, no try_* fallbacks).
MINHASH_PRIME = 2147483647


def char_ngrams_col(col: Column, n: int = 4, distinct: bool = True) -> Column:
    """Padded char n-gram windows of a (already normalized) string column.

    Equivalent to ``char_ngrams`` in textops: pad one space each side, slide a
    width-``n`` window. Strings whose padded form is shorter than ``n`` yield
    an empty array (parity with the reference's ``generate_ngrams``).
    """
    padded = F.concat(F.lit(" "), col, F.lit(" "))
    n_windows = F.length(padded) - F.lit(n - 1)
    grams = F.when(
        n_windows >= 1,
        F.transform(F.sequence(F.lit(1), n_windows), lambda i: padded.substr(i, F.lit(n))),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams) if distinct else grams


def _hash64(col: Column) -> Column:
    """Deterministic 64-bit hash of a string, JVM-side."""
    return F.xxhash64(col)


def minhash_signature_col(grams: Column, num_hashes: int = 32, seed: int = 7) -> Column:
    """MinHash signature as ``array<bigint>`` — fully JVM-side.

    ``sig[j] = min over g of pmod(a_j · xxhash64(g) + b_j, P)`` with per-j
    parameters derived deterministically from ``seed``. A nested ``transform``
    keeps everything in codegen: no UDF, no shuffle, no MLlib dependency
    (hand-rolled per SURVEY §1.4 for determinism).
    """
    import random

    rng = random.Random(seed)
    params = [(rng.randrange(1, MINHASH_PRIME), rng.randrange(0, MINHASH_PRIME)) for _ in range(num_hashes)]
    param_col = F.array(*[F.struct(F.lit(a).alias("a"), F.lit(b).alias("b")) for a, b in params])
    return F.transform(
        param_col,
        lambda p: F.coalesce(
            F.array_min(
                F.transform(
                    grams,
                    lambda g: F.pmod(
                        p["a"] * F.pmod(_hash64(g), F.lit(MINHASH_PRIME)) + p["b"],
                        F.lit(MINHASH_PRIME),
                    ),
                )
            ),
            F.lit(MINHASH_PRIME),
        ),
    )


def lsh_band_keys_col(signature: Column, bands: int = 8, rows: int = 4) -> Column:
    """Band keys ``array<string>`` for LSH bucketing: hash of each ``rows``-
    slice of the signature, prefixed with the band index so buckets from
    different bands never collide.

    NOTE: pass a MATERIALIZED signature column (its own projection/cache) —
    handing the raw ``minhash_signature_col`` expression here makes Catalyst's
    CollapseProject inline the whole signature into every band, multiplying
    the hash work by the band count. For expression-only pipelines use
    ``lsh_band_keys_from_grams`` instead.
    """
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.concat_ws(
            "#", b.cast("string"),
            F.xxhash64(F.concat_ws(",", F.slice(signature, b * rows + 1, rows))).cast("string"),
        ),
    )


def gram_hash_col(grams: Column) -> Column:
    """Shingle array → array of 64-bit hashes reduced mod the MinHash prime.

    Stage THIS as a real column before fanning out per-permutation work: a
    Column object is an expression TREE, so passing a gen-expression into N
    permutation lambdas pastes (and re-evaluates) the whole generation N
    times per row — measured as ~180 CPU-seconds for the blocking-key stage
    on an 11k-mention corpus, 30× the necessary work."""
    return F.transform(grams, lambda g: F.pmod(_hash64(g), F.lit(MINHASH_PRIME)))


def lsh_band_keys_from_hashes(ghash: Column, bands: int = 10, rows: int = 3,
                              seed: int = 7) -> Column:
    """Band keys from pre-hashed shingles (``gram_hash_col`` output, ideally a
    materialized column — see its docstring). Per band×row the work is one
    multiply-add-mod pass over the hash array; no string hashing, no shingle
    re-generation."""
    import random

    rng = random.Random(seed)
    params = [
        (rng.randrange(1, MINHASH_PRIME), rng.randrange(0, MINHASH_PRIME))
        for _ in range(bands * rows)
    ]

    def _minhash(a: int, b: int) -> Column:
        return F.coalesce(
            F.array_min(
                F.transform(
                    ghash,
                    lambda h: F.pmod(F.lit(a) * h + F.lit(b), F.lit(MINHASH_PRIME)),
                )
            ),
            F.lit(MINHASH_PRIME),
        )

    band_keys = []
    for band in range(bands):
        parts = [
            _minhash(*params[band * rows + r]).cast("string") for r in range(rows)
        ]
        band_keys.append(
            F.concat_ws("#", F.lit(str(band)), F.xxhash64(F.concat_ws(",", *parts)).cast("string"))
        )
    return F.array(*band_keys)


def lsh_band_keys_from_grams(grams: Column, bands: int = 10, rows: int = 3,
                             seed: int = 7) -> Column:
    """Band keys straight from a shingle array. Convenience form — prefer
    staging ``gram_hash_col`` as a real column and calling
    ``lsh_band_keys_from_hashes`` so the shingle generation/hashing isn't
    duplicated into every permutation lambda."""
    return lsh_band_keys_from_hashes(gram_hash_col(grams), bands=bands, rows=rows, seed=seed)


def sorted_token_key_col(std: Column) -> Column:
    """Sorted-token blocking key: distinct whitespace tokens, sorted, joined.

    The cheap exact-ish blocking key (north_star): two differently-ordered
    renderings of the same address land in the same block.
    """
    return F.concat_ws(" ", F.array_sort(F.array_distinct(F.split(std, " "))))


def canonical_tokens_col(std: Column) -> Column:
    """Entity-canonical token array: distinct tokens of the normalized string
    minus generic unit/location filler (``phuong``, ``huyen``, ``xa``, … —
    the reference's _GENERIC_LOCATION_TOKENS; accentless type words survive
    ``standardize_name`` and would otherwise split blocks), sorted. Falls back
    to the full token set when filtering would empty it."""
    from address_parser_spark.textops.street import GENERIC_LOCATION_TOKENS

    generic = F.array(*[F.lit(t) for t in sorted(GENERIC_LOCATION_TOKENS)])
    toks = F.array_sort(F.array_distinct(F.split(std, " ")))
    filtered = F.array_except(toks, generic)
    return F.when(F.size(filtered) >= 1, filtered).otherwise(toks)
