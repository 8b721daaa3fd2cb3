"""Pure-Python text core — no Spark imports.

Every function here is row-local and deterministic; the Spark layer calls them
from Arrow-batched pandas UDFs (``address_parser_spark.functions``). Keeping the
core Spark-free makes it golden-testable char-for-char against the reference
parser (``/root/reference/fuzz/inexus_parser.py``) without a JVM.
"""

from address_parser_spark.textops.normalize import (
    clean_text,
    fold_diacritics,
    normalize_advanced,
    normalize_basic,
    normalize_token,
    standardize_name,
    strip_accents,
    tokenize,
)
from address_parser_spark.textops.ngrams import char_ngrams, char_ngram_set, word_shingles
from address_parser_spark.textops.similarity import (
    indel_ratio,
    lcs_length,
    partial_ratio,
    wratio,
)
from address_parser_spark.textops.street import extract_street, component_signature

__all__ = [
    "clean_text",
    "fold_diacritics",
    "normalize_advanced",
    "normalize_basic",
    "normalize_token",
    "standardize_name",
    "strip_accents",
    "tokenize",
    "char_ngrams",
    "char_ngram_set",
    "word_shingles",
    "indel_ratio",
    "lcs_length",
    "partial_ratio",
    "wratio",
    "extract_street",
    "component_signature",
]
