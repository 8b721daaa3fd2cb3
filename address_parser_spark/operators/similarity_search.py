"""Approximate-nearest-neighbor search over an embedding column.

One scoring core, two entry points (task brief):
- ``ann_lsh_topk``: sign-projection LSH buckets (first ``bucket_dims`` axes)
  → exact top-k within the query's bucket. The scale path: candidates per
  query bounded by bucket population; recall traded via ``bucket_dims``.
- ``cosine_topk``: the same core with ``bucket_dims=0`` — brute-force exact
  top-k for a bounded query set, the correctness baseline. O(|Q|·n); |Q|
  must be small (the broadcast side).
  (A production IVF variant replaces sign buckets with k-means centroid
  assignment — same dataflow: bucket join → per-bucket exact rerank.)

Pure Column math (zip_with dot product in double) — JVM-side, oracle-exact.
Ranking is on (rounded cosine desc, vec_id asc): rounding first makes the
order reproducible across engines despite last-ulp float divergence.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from address_parser_spark.operators.partitioning import fan_out


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(c: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def sign_bucket_col(vec: Column, bucket_dims: int) -> Column:
    return F.concat_ws(
        "", *[F.when(vec[i] >= 0, F.lit("1")).otherwise(F.lit("0")) for i in range(bucket_dims)]
    )


def cosine_topk(embeddings: DataFrame, query_ids: list[int], k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors for each query id (excluding itself):
    ``ann_lsh_topk`` with no bucket axes, so every vector is a candidate."""
    return ann_lsh_topk(embeddings, query_ids, k=k, bucket_dims=0)


def ann_lsh_topk(embeddings: DataFrame, query_ids: list[int], k: int = 3,
                 bucket_dims: int = 4) -> DataFrame:
    """LSH-bucketed ANN: candidates restricted to the query's sign bucket."""
    # fan_out the scored (candidate) side only; the query side is a pushed-down
    # point filter on the raw scan and stays shuffle-free.
    e = fan_out(embeddings).select("vec_id", _as_double(F.col("embedding")).alias("v")).withColumn(
        "bucket", sign_bucket_col(F.col("v"), bucket_dims)
    )
    q = embeddings.select("vec_id", _as_double(F.col("embedding")).alias("v")).withColumn(
        "bucket", sign_bucket_col(F.col("v"), bucket_dims)
    ).filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "bucket"
    )
    scored = (
        e.join(F.broadcast(q), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", F.round(_dot(F.col("qv"), F.col("v")) / (_norm(F.col("qv")) * _norm(F.col("v"))), 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rank")
    )
