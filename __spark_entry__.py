"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship dedup-clustering dataflow on the sf0.001 tables;
``queries``/``oracle_sql`` expose one entry per implemented operator family
(SURVEY.md §2 + the training-data operators) with exactly-mirroring DuckDB
SQL. Hash-bearing operators use md5-derived integers so both engines agree
bit-for-bit; float outputs are rounded in BOTH engines before comparison.

Non-SQL-expressible entries (the Vietnamese ER pipeline itself — its
normalization is an ordered replacement cascade no SQL dialect reproduces)
have no oracle and rely on the driver's rows-only check plus the pytest F1
gate (tests/test_pipeline_e2e.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

_ER_FIXTURE_JSONL = str(
    Path(__file__).resolve().parent / "tests" / "fixtures" / "er_expected_120_rows.jsonl"
)

SF0001 = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Relational operators (SURVEY §2.3/§2.4/§2.5/§2.6 mapped onto the TPC-H-ish
# tables; every one stays in whole-stage codegen)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 hash aggregation with map-side partials (TPC-H Q1 shape)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= F.lit("2001-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 argmax-per-group: top-3 orders by price per customer, deterministic
    tiebreak on orderkey."""
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("totalprice"), "rank")
    )


def q_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 parent-code hierarchy assembly via two broadcast joins (the
    gazetteer ward→district→province shape on region→nation→customer)."""
    c = _t(spark, sf_dir, "customer")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        c.join(n, c["c_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
    )


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers that placed at least one urgent order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").select("c_custkey", "c_mktsegment")


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no orders at all (unmatched-mentions
    diagnostic shape, SURVEY §2.3)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select("c_custkey", "c_name")


def q_union_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 unionByName + dedup-by-signature (A6): two overlapping order slices."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_totalprice") > 100000).select("o_orderkey", "o_orderstatus")
    b = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey", "o_orderstatus")
    return a.unionByName(b).distinct()


def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame (running sum) per customer over order date."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_custkey", "o_orderkey",
            F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
        )
    )


def q_top_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 global top-K with deterministic tiebreak (TakeOrderedAndProject)."""
    return (
        _t(spark, sf_dir, "events")
        .orderBy(F.desc("value"), F.asc("event_id"))
        .limit(20)
        .select("event_id", "user_id", "event_type", F.round("value", 2).alias("value"))
    )


# ---------------------------------------------------------------------------
# Event-time operators: tumbling windows, sessionization and dedup over the
# events table, as batch queries
# ---------------------------------------------------------------------------

def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregation."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("hour_start"), "event_type", "n", "sum_value")
    )


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-minute inactivity gap splits sessions per user."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ in the parquet; session tz is pinned to UTC so the
    # cast is instant-preserving.
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = micros - F.lag(micros).over(w)
    with_flag = _t(spark, sf_dir, "events").withColumn(
        "new_session", F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    )
    with_sid = with_flag.withColumn(
        "session_idx",
        F.sum("new_session").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return with_sid.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("started_at"),
        F.max("ts").alias("ended_at"),
    )


def q_events_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-by-signature with deterministic representative (A6): one row
    per (user, event type, minute), the lowest event id kept."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type", F.date_trunc("minute", "ts").alias("minute"))
        .agg(F.min("event_id").alias("first_event_id"), F.count(F.lit(1)).alias("n_dups"))
    )


# ---------------------------------------------------------------------------
# Training-data operators over documents / embeddings
# ---------------------------------------------------------------------------

def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from address_parser_spark.operators.textquality import token_stats

    return token_stats(_t(spark, sf_dir, "documents"))


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from address_parser_spark.operators.textquality import quality_scores

    return quality_scores(_t(spark, sf_dir, "documents"))


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from address_parser_spark.operators.textquality import detect_language

    return detect_language(_t(spark, sf_dir, "documents"))


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from address_parser_spark.operators.textquality import fingerprints

    return fingerprints(_t(spark, sf_dir, "documents"))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from address_parser_spark.operators.dedup import exact_duplicates

    return exact_duplicates(_t(spark, sf_dir, "documents"))


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from address_parser_spark.operators.dedup import minhash_signatures

    return minhash_signatures(_t(spark, sf_dir, "documents"))


def q_minhash_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding end-to-end: signatures → sorted band keys → bucket join →
    candidate pairs with shared-band counts (deterministic band keys make the
    whole chain SQL-expressible)."""
    from address_parser_spark.operators.dedup import minhash_band_pairs

    return minhash_band_pairs(_t(spark, sf_dir, "documents"))


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed embedding-cosine near-dup pairs. Threshold scaled to
    the synthetic embeddings (random vectors — in-bucket cosines top out
    ~0.5), exercising the exact same bucket-join dataflow as production."""
    from address_parser_spark.operators.dedup import embedding_near_dups

    return embedding_near_dups(_t(spark, sf_dir, "embeddings"), threshold=0.30)


def q_dropped_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Jaccard document-frequency-cap diagnostic (no silent caps): every
    shingle hash the cap would drop, with its document frequency. max_df
    scaled to the sf0.01 corpus (max observed df is 7) so the query exercises
    the drop path."""
    from address_parser_spark.operators.dedup import dropped_shingles

    return dropped_shingles(_t(spark, sf_dir, "documents"), max_df=5)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from address_parser_spark.operators.dedup import simhash32

    return simhash32(_t(spark, sf_dir, "documents"))


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from address_parser_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.12)


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from address_parser_spark.operators.similarity_search import cosine_topk

    return cosine_topk(_t(spark, sf_dir, "embeddings"), query_ids=list(range(8)), k=5)


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from address_parser_spark.operators.similarity_search import ann_lsh_topk

    return ann_lsh_topk(_t(spark, sf_dir, "embeddings"), query_ids=list(range(8)), k=3, bucket_dims=4)


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real (stdlib) multimodal decode, round-trip proven: doc_id % 3 picks
    PNG / zlib-compressed-text / WAV, the payload is built with the module's
    encoders in a mapInPandas stage (real bytes, real containers), and
    ``decode_media`` parses the header fields back.
    The oracle re-derives those fields arithmetically from doc_id/text — a
    mismatch means the parser did NOT recover what was encoded."""
    import pandas as pd

    from address_parser_spark.operators.multimodal import (
        decode_media,
        encode_png,
        encode_text,
        encode_wav,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def _encode(batches):
        for b in batches:
            payloads = []
            for did, text in zip(b["doc_id"], b["text"]):
                did = int(did)
                if did % 3 == 0:
                    payloads.append(encode_png(16 + did % 64, 16 + (did * 7) % 64))
                elif did % 3 == 1:
                    payloads.append(encode_text(text or "", "zlib"))
                else:
                    payloads.append(encode_wav(8000 + (did % 5) * 8000, 4))
            yield pd.DataFrame({"doc_id": b["doc_id"], "html": payloads})

    payloads = docs.mapInPandas(_encode, schema="doc_id long, html binary")
    return decode_media(payloads).select(
        "doc_id",
        F.col("media.media_type").alias("media_type"),
        F.col("media.format").alias("media_format"),
        F.col("media.width").cast("long").alias("width"),
        F.col("media.height").cast("long").alias("height"),
        F.col("media.sample_rate").cast("long").alias("sample_rate"),
        F.col("media.text_chars").cast("long").alias("text_chars"),
    )


def q_er_blocking_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ER blocking on generic text: sorted-token prefix key → block sizes."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
    key = F.concat_ws(" ", F.slice(F.array_sort(F.array_distinct(toks)), 1, 2))
    return (
        docs.select(key.alias("block_key"))
        .groupBy("block_key")
        .agg(F.count(F.lit(1)).alias("block_n"))
        .filter(F.col("block_n") >= 2)
    )


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-star/small-star CC over Jaccard near-dup edges — oracle-checked
    against a recursive-CTE min-label propagation in DuckDB."""
    from address_parser_spark.operators.cluster import connected_components
    from address_parser_spark.operators.dedup import ngram_jaccard_pairs

    edges = (
        ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.10)
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    return connected_components(edges).select(
        F.col("id").alias("doc_id"), F.col("component").alias("component")
    )


def q_er_resolve_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Vietnamese ER pipeline itself. The SQL cascade isn't expressible
    in ANSI SQL, so the oracle is the committed expected-output fixture
    (``tests/fixtures/er_expected_120_rows.jsonl`` — LocalParser + union-find,
    an independent straight-line implementation; see plans/er_oracle.py).
    Cluster labels are implementation-defined, so the comparable output
    replaces cluster_id with ``cluster_rep`` — the cluster's lexicographically
    smallest "url\\nmention" member (deterministic under any partitioning)."""
    from address_parser_spark.gazetteer import synth_gazetteer
    from address_parser_spark.plans.pipeline import run_pipeline
    from address_parser_spark.sources.pages import synth_pages_spark

    gaz = synth_gazetteer()
    pages = synth_pages_spark(spark, gaz, 120, partitions=8)
    clustered = run_pipeline(spark, pages, gaz)
    reps = clustered.groupBy("cluster_id").agg(
        F.min(F.concat_ws("\n", "url", "mention")).alias("cluster_rep")
    )
    return clustered.join(F.broadcast(reps), "cluster_id").select(
        "url", "mention", "std", "province", "district", "ward",
        "street_address", "format", "entity_key", "cluster_rep",
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: dedup-clustering dataflow over the sf0.001 documents —
    blocking shingles → Jaccard pair scoring → connected components →
    per-document cluster + quality + language columns."""
    from address_parser_spark.operators.cluster import connected_components
    from address_parser_spark.operators.dedup import ngram_jaccard_pairs
    from address_parser_spark.operators.textquality import detect_language, quality_scores

    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    edges = ngram_jaccard_pairs(docs, threshold=0.10).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    assignments = connected_components(edges)
    q = quality_scores(docs)
    lang = detect_language(docs)
    return (
        docs.select("doc_id", "lang", "source")
        .join(assignments.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("component", F.col("doc_id"))).drop("component")
        .join(q, "doc_id")
        .join(lang, "doc_id")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pricing_summary": q_pricing_summary,
        "topk_orders_per_customer": q_topk_orders_per_customer,
        "hierarchy_rollup": q_hierarchy_rollup,
        "semi_join": q_semi_join,
        "anti_join": q_anti_join,
        "union_segments": q_union_segments,
        "running_total": q_running_total,
        "top_events": q_top_events,
        "events_hourly": q_events_hourly,
        "events_sessions": q_events_sessions,
        "events_dedup": q_events_dedup,
        "token_stats": q_token_stats,
        "quality": q_quality,
        "langid": q_langid,
        "fingerprints": q_fingerprints,
        "dedup_exact": q_dedup_exact,
        "minhash_signatures": q_minhash_signatures,
        "minhash_band_pairs": q_minhash_band_pairs,
        "embedding_near_dups": q_embedding_near_dups,
        "dropped_shingles": q_dropped_shingles,
        "simhash": q_simhash,
        "jaccard_pairs": q_jaccard_pairs,
        "cosine_topk": q_cosine_topk,
        "ann_lsh": q_ann_lsh,
        "media_decode": q_media_decode,
        "er_blocking_stats": q_er_blocking_stats,
        "connected_components": q_connected_components,
        "er_resolve_pages": q_er_resolve_pages,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles — shared SQL fragments
# ---------------------------------------------------------------------------

_TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')"
_H60 = "('0x' || substring(md5({x}), 1, 15))::BIGINT"

_SHINGLES = f"""
    CASE WHEN len(toks) >= 3 THEN
        list_distinct(list_transform(generate_series(1, len(toks) - 2),
                                     i -> array_to_string(toks[i:i+2], ' ')))
    ELSE [array_to_string(toks, ' ')] END
"""

_LANG_VALUES = """
    (VALUES ('de', ['der','die','und','das','ist']),
            ('en', ['the','a','of','and','to']),
            ('es', ['el','la','de','que','y']),
            ('fr', ['le','la','et','les','des']),
            ('vi', ['cua','va','la','nhung','mot'])) AS L(lang, words)
"""

_MINHASH_PARAMS_SQL = ", ".join(
    f"({j}, {a}, {b})"
    for j, (a, b) in enumerate(
        __import__("address_parser_spark.operators.dedup", fromlist=["MINHASH_PARAMS"]).MINHASH_PARAMS
    )
)

# CTE list + final select kept separate so the connected-components oracle can
# splice them into its own WITH RECURSIVE clause (CTEs cannot nest).
_JACCARD_CTES = f"""
toks AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM toks),
hashed_raw AS (SELECT doc_id, {_H60.format(x='s')} AS shh FROM sh),
-- document-frequency cap: shingles in > 200 docs are boilerplate and are
-- dropped from BOTH the intersections and the per-doc set sizes (mirrors
-- ngram_jaccard_pairs max_df)
hashed AS (
    SELECT doc_id, shh FROM hashed_raw
    WHERE shh IN (SELECT shh FROM hashed_raw GROUP BY shh HAVING count(*) <= 200)
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM hashed GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
    FROM hashed a JOIN hashed b ON a.shh = b.shh AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
jpairs AS (
    SELECT doc_a, doc_b, inter,
           round(inter / (sa.n_sh + sb.n_sh - inter), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
)
"""

_JACCARD_PAIRS_SQL = (
    "WITH " + _JACCARD_CTES +
    " SELECT doc_a, doc_b, inter, jaccard FROM jpairs WHERE jaccard >= {threshold}"
)


def oracle_sql() -> dict[str, str]:
    return {
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
            GROUP BY l_returnflag, l_linestatus
        """,
        "topk_orders_per_customer": """
            SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, rank
            FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                         row_number() OVER (PARTITION BY o_custkey
                                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
                  FROM orders)
            WHERE rank <= 3
        """,
        "hierarchy_rollup": """
            SELECT r_name, n_name, count(*) AS n_customers,
                   round(sum(c_acctbal), 2) AS sum_acctbal
            FROM customer JOIN nation ON c_nationkey = n_nationkey
                          JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name
        """,
        "semi_join": """
            SELECT c_custkey, c_mktsegment FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        """,
        "anti_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        """,
        "union_segments": """
            SELECT o_orderkey, o_orderstatus FROM orders WHERE o_totalprice > 100000
            UNION
            SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderpriority = '1-URGENT'
        """,
        "running_total": """
            SELECT o_custkey, o_orderkey,
                   round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                                 ORDER BY o_orderdate, o_orderkey
                                                 ROWS UNBOUNDED PRECEDING), 2) AS running_total
            FROM orders
        """,
        "top_events": """
            SELECT event_id, user_id, event_type, round(value, 2) AS value
            FROM events ORDER BY value DESC, event_id ASC LIMIT 20
        """,
        "events_hourly": """
            SELECT date_trunc('hour', ts) AS hour_start, event_type,
                   count(*) AS n, round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "events_sessions": """
            WITH flagged AS (
                SELECT user_id, ts, event_id,
                       CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
                                 OR lag(ts) OVER w IS NULL
                            THEN 1 ELSE 0 END AS new_session
                FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), with_sid AS (
                SELECT user_id, ts,
                       CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
                FROM flagged
            )
            SELECT user_id, session_idx, count(*) AS n_events,
                   min(ts) AS started_at, max(ts) AS ended_at
            FROM with_sid GROUP BY user_id, session_idx
        """,
        "events_dedup": """
            SELECT user_id, event_type, date_trunc('minute', ts) AS minute,
                   min(event_id) AS first_event_id, count(*) AS n_dups
            FROM events GROUP BY 1, 2, 3
        """,
        "token_stats": f"""
            SELECT doc_id, len(toks) AS n_tokens, len(list_distinct(toks)) AS n_distinct_tokens,
                   length(text) AS n_chars,
                   round(length(regexp_replace(text, '\\s+', '', 'g')) / greatest(len(toks), 1), 4)
                       AS mean_token_len
            FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
        """,
        "quality": f"""
            SELECT doc_id,
                   round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                         / greatest(length(text), 1), 4) AS alpha_ratio,
                   len(list_filter(list_distinct(toks),
                                   t -> list_contains(['the','a','of','and','to','in','is'], t)))
                       AS stopword_hits,
                   round(1.0 - len(list_distinct(toks)) / greatest(len(toks), 1), 4)
                       AS repetition_ratio,
                   (round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                          / greatest(length(text), 1), 4) >= 0.5
                    AND len(toks) >= 10
                    AND round(1.0 - len(list_distinct(toks)) / greatest(len(toks), 1), 4) <= 0.95)
                       AS passes_quality
            FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
        """,
        "langid": f"""
            WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            hits AS (
                SELECT doc_id, L.lang,
                       len(list_filter(toks, t -> list_contains(L.words, t))) AS hits
                FROM tok, {_LANG_VALUES}
            ), ranked AS (
                SELECT doc_id, lang, hits,
                       row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang ASC) AS rn
                FROM hits
            )
            SELECT doc_id, CASE WHEN hits > 0 THEN lang ELSE 'und' END AS lang_pred,
                   hits AS lang_hits
            FROM ranked WHERE rn = 1
        """,
        "fingerprints": f"""
            WITH norm AS (
                SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS n FROM documents
            ), tok AS (
                SELECT doc_id, n, list_filter(string_split_regex(n, '\\s+'), t -> t <> '') AS toks
                FROM norm
            ), sh AS (SELECT doc_id, n, {_SHINGLES} AS shingles FROM tok)
            SELECT doc_id, md5(n) AS content_md5,
                   list_min(list_transform(shingles, s -> {_H60.format(x='s')})) AS min_shingle_hash,
                   len(list_distinct(shingles)) AS n_shingles
            FROM sh
        """,
        "dedup_exact": """
            WITH h AS (SELECT doc_id, md5(lower(text)) AS content_md5 FROM documents),
            g AS (SELECT content_md5, count(*) AS dup_count, min(doc_id) AS canonical
                  FROM h GROUP BY content_md5)
            SELECT doc_id, h.content_md5, dup_count, (doc_id = canonical) AS is_canonical
            FROM h JOIN g ON h.content_md5 = g.content_md5
        """,
        "minhash_signatures": f"""
            WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM tok),
            hashed AS (SELECT doc_id,
                              list_transform(shingles, s -> {_H60.format(x='s')}) AS hs
                       FROM sh)
            SELECT doc_id, P.h_idx,
                   coalesce(list_min(list_transform(hs,
                       h -> (P.a * (h % 2147483647) + P.b) % 2147483647)), 2147483647) AS minhash
            FROM hashed, (VALUES {_MINHASH_PARAMS_SQL}) AS P(h_idx, a, b)
        """,
        "minhash_band_pairs": f"""
            WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM tok),
            hashed AS (SELECT doc_id,
                              list_transform(shingles, s -> {_H60.format(x='s')}) AS hs
                       FROM sh),
            sigs AS (
                SELECT doc_id, P.h_idx,
                       coalesce(list_min(list_transform(hs,
                           h -> (P.a * (h % 2147483647) + P.b) % 2147483647)), 2147483647) AS minhash
                FROM hashed, (VALUES {_MINHASH_PARAMS_SQL}) AS P(h_idx, a, b)
            ),
            bands AS (
                SELECT doc_id, (h_idx // 2) AS band,
                       array_to_string(list_sort(list(h_idx::VARCHAR || ':' || minhash::VARCHAR)),
                                       ',') AS bkey_raw
                FROM sigs GROUP BY doc_id, band
            ),
            ok AS (
                SELECT band, bkey_raw FROM bands
                GROUP BY band, bkey_raw HAVING count(*) BETWEEN 2 AND 50
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_bands
            FROM bands a
            JOIN ok ON a.band = ok.band AND a.bkey_raw = ok.bkey_raw
            JOIN bands b ON b.band = a.band AND b.bkey_raw = a.bkey_raw
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2
        """,
        "embedding_near_dups": """
            WITH e AS (
                SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
                       concat(CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
                              CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
                              CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
                              CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) AS bucket
                FROM embeddings
            ),
            scored AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       round(list_dot_product(a.v, b.v)
                             / (sqrt(list_dot_product(a.v, a.v))
                                * sqrt(list_dot_product(b.v, b.v))), 4) AS cosine
                FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            )
            SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.30
        """,
        "dropped_shingles": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM toks),
            hashed_raw AS (SELECT doc_id, {_H60.format(x='s')} AS shh FROM sh)
            SELECT shh, count(*) AS df FROM hashed_raw GROUP BY shh HAVING count(*) > 5
        """,
        "simhash": f"""
            WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
            h AS (SELECT doc_id, {_H60.format(x='tok')} AS h FROM tok),
            bits AS (
                SELECT doc_id, b,
                       sum(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS v
                FROM h, generate_series(0, 31) AS t(b)
                GROUP BY doc_id, b
            )
            SELECT doc_id,
                   CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
            FROM bits GROUP BY doc_id
        """,
        "jaccard_pairs": _JACCARD_PAIRS_SQL.format(threshold=0.12),
        "cosine_topk": """
            WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
            scored AS (
                SELECT q.query_id, e.vec_id AS neighbor_id,
                       round(list_dot_product(q.qv, e.v)
                             / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 4)
                           AS cosine
                FROM q JOIN e ON e.vec_id <> q.query_id
            ), ranked AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                                             ORDER BY cosine DESC, neighbor_id ASC) AS rank
                FROM scored
            )
            SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
        """,
        "ann_lsh": """
            WITH e AS (
                SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
                       concat(CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
                              CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
                              CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
                              CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) AS bucket
                FROM embeddings
            ),
            q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM e WHERE vec_id < 8),
            scored AS (
                SELECT q.query_id, e.vec_id AS neighbor_id,
                       round(list_dot_product(q.qv, e.v)
                             / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 4)
                           AS cosine
                FROM q JOIN e ON e.bucket = q.bucket AND e.vec_id <> q.query_id
            ), ranked AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                                             ORDER BY cosine DESC, neighbor_id ASC) AS rank
                FROM scored
            )
            SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 3
        """,
        # Round-trip oracle: the Spark side ENCODES real container binaries
        # keyed on doc_id and DECODES them with the stdlib parsers; the SQL
        # side recomputes the same header fields arithmetically. Agreement
        # proves the real decoder inverts the encoder field-for-field.
        "media_decode": """
            SELECT doc_id,
                   CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                        WHEN 1 THEN 'text' ELSE 'audio' END AS media_type,
                   CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png'
                        WHEN 1 THEN 'zlib' ELSE 'wav' END AS media_format,
                   CASE WHEN doc_id % 3 = 0
                        THEN CAST(16 + doc_id % 64 AS BIGINT) END AS width,
                   CASE WHEN doc_id % 3 = 0
                        THEN CAST(16 + (doc_id * 7) % 64 AS BIGINT) END AS height,
                   CASE WHEN doc_id % 3 = 2
                        THEN CAST(8000 + (doc_id % 5) * 8000 AS BIGINT) END AS sample_rate,
                   CASE WHEN doc_id % 3 = 1
                        THEN CAST(length(coalesce(text, '')) AS BIGINT) END AS text_chars
            FROM documents
        """,
        "er_blocking_stats": f"""
            SELECT array_to_string(list_sort(list_distinct(toks))[1:2], ' ') AS block_key,
                   count(*) AS block_n
            FROM (SELECT {_TOKS} AS toks FROM documents)
            GROUP BY 1 HAVING count(*) >= 2
        """,
        "connected_components": f"""
            WITH RECURSIVE {_JACCARD_CTES},
            pairs AS (SELECT doc_a, doc_b FROM jpairs WHERE jaccard >= 0.10),
            edges AS (
                SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL
                SELECT doc_b AS src, doc_a AS dst FROM pairs
            ),
            nodes AS (SELECT DISTINCT src AS id FROM edges),
            reach(id, comp) AS (
                SELECT id, id FROM nodes
                UNION
                SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id
            )
            SELECT id AS doc_id, min(comp) AS component FROM reach GROUP BY id
        """,
        # Flagship: the normalization cascade isn't ANSI-SQL-expressible, so
        # the oracle is the committed expected-output fixture computed by an
        # INDEPENDENT straight-line implementation (LocalParser + union-find,
        # plans/er_oracle.py; regenerate via scripts/gen_er_expected.py).
        # tests/test_er_local_oracle.py pins the fixture to the live local
        # oracle by sha256 and to the distributed pipeline under two input
        # partitionings.
        "er_resolve_pages": f"""
            SELECT url, mention, std, province, district, ward,
                   street_address, format, entity_key, cluster_rep
            FROM read_json_auto('{_ER_FIXTURE_JSONL}',
                                format='newline_delimited',
                                columns={{
                                    'url': 'VARCHAR', 'mention': 'VARCHAR',
                                    'std': 'VARCHAR', 'province': 'VARCHAR',
                                    'district': 'VARCHAR', 'ward': 'VARCHAR',
                                    'street_address': 'VARCHAR',
                                    'format': 'VARCHAR',
                                    'entity_key': 'VARCHAR',
                                    'cluster_rep': 'VARCHAR'}})
        """,
    }
