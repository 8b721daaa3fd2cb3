"""Spark-side functions: JVM Column builders first, Arrow-batched UDFs second.

Rule of thumb enforced across the engine (SURVEY §4): anything expressible
with ``pyspark.sql.functions`` stays JVM-side inside whole-stage codegen
(n-gram windows, MinHash via nested ``transform``) — unless a Python UDF is
its only consumer, in which case the UDF derives it from inputs that cross
the Arrow boundary anyway (the resolve kernel builds a mention's gram set
and partial flag from ``std``). Python appears only as Arrow-batched pandas
UDFs for the genuinely string-algorithmic parts (extraction, normalization,
resolution scoring, street extraction).
"""

from address_parser_spark.functions.columns import char_ngrams_col

__all__ = [
    "char_ngrams_col",
]
