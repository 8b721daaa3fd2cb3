"""Spark-side functions: JVM Column builders first, Arrow-batched UDFs second.

Rule of thumb enforced across the engine (SURVEY §4): anything expressible
with ``pyspark.sql.functions`` stays JVM-side inside whole-stage codegen
(n-gram windows, MinHash via nested ``transform``);
Python appears only as Arrow-batched pandas UDFs for the genuinely
string-algorithmic parts (extraction, normalization, resolution scoring,
street extraction).
"""

from address_parser_spark.functions.columns import char_ngrams_col

__all__ = [
    "char_ngrams_col",
]
