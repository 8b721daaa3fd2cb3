"""Incremental page ingest via Structured Streaming.

Dataflow: ``readStream`` (JSONL page dumps / any streaming source with the
pages schema) → the batch pipeline's OWN extraction stage (narrow transforms
are stream-compatible as-is — one code path for batch and streaming) →
watermarked tumbling-window aggregation and within-watermark dedup.

Streaming frames get the batch html fallback too: when a source adds an
``html`` column, rows whose ``text`` is null or empty are extracted from the
markup (``extract_normalize``'s html branch) rather than skipped. A frame
without that column (``PAGES_STREAM_SCHEMA``) reads ``text`` only.

The stateful pieces use the built-in operators (windowed agg, dropDuplicates
with watermark); no custom state store is needed for the reference's
capability surface. ``applyInPandasWithState`` remains the escape hatch for
future session-style state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

# Streaming wire schema: timestamps arrive as ISO strings in JSONL dumps.
PAGES_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
    ]
)


def read_pages_stream(spark: SparkSession, input_dir: str,
                      max_files_per_trigger: int = 16) -> DataFrame:
    """File-based streaming source over JSONL page dumps (one file = one
    micro-batch unit; ``maxFilesPerTrigger`` bounds batch size)."""
    return (
        spark.readStream
        .schema(PAGES_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(input_dir)
    )


def extract_mentions_stream(pages_stream: DataFrame,
                            registries: dict[str, list[str]] | None = None) -> DataFrame:
    """The batch extraction stage applied to a stream — same fused UDF, same
    output columns, plus the event-time column carried through."""
    from address_parser_spark.operators.parse import extract_normalize

    return extract_normalize(pages_stream, registries, carry_cols=["warc_ts"])


def windowed_mention_counts(
    pages_stream: DataFrame,
    registries: dict[str, list[str]] | None = None,
    window: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Tumbling event-time counts of mentions per normalized form, tolerating
    late pages up to the watermark."""
    mentions = extract_mentions_stream(pages_stream, registries)
    return (
        mentions
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), F.col("std"))
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .select(F.col("w.start").alias("window_start"), "std", "n_mentions")
    )


def dedup_mentions_stream(
    pages_stream: DataFrame,
    registries: dict[str, list[str]] | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Exactly-once mention emission within the watermark horizon: streaming
    ``dropDuplicates`` on (url, mention) — the streaming analog of the batch
    dedup-by-signature (A6)."""
    mentions = extract_mentions_stream(pages_stream, registries)
    return mentions.withWatermark("warc_ts", watermark).dropDuplicates(["url", "mention"])
