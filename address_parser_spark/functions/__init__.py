"""Spark-side functions: JVM Column builders first, Arrow-batched UDFs second.

Rule of thumb enforced across the engine (SURVEY §4): anything expressible
with ``pyspark.sql.functions`` stays JVM-side inside whole-stage codegen
(n-gram windows, MinHash via nested ``transform``);
Python appears only as Arrow-batched pandas UDFs for the genuinely
string-algorithmic parts (normalization, fuzzy scoring, street extraction).
"""

from address_parser_spark.functions.columns import (
    char_ngrams_col,
    minhash_signature_col,
    lsh_band_keys_col,
    sorted_token_key_col,
)
from address_parser_spark.functions.udfs import (
    extract_mentions_udf,
    normalize_advanced_udf,
    normalize_basic_udf,
    pair_score_udf,
    street_extract_udf,
)

__all__ = [
    "char_ngrams_col",
    "minhash_signature_col",
    "lsh_band_keys_col",
    "sorted_token_key_col",
    "extract_mentions_udf",
    "normalize_advanced_udf",
    "normalize_basic_udf",
    "pair_score_udf",
    "street_extract_udf",
]
