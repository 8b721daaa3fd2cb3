"""The entity-resolution pipeline (SURVEY §7), resumable.

pages → (1) extract+normalize → (2) resolve each distinct mention against the
broadcast gazetteer (one fused Arrow kernel: probe/gate/bounded score/argmax/
repair/street, ``operators.parse.resolve_mentions``) → (3) connected
components over two exact-string stars, the entity anchor and the identical
``(canon, digit_sig)`` group (``operators.cluster.cluster_mentions``; no
blocking keys, no cap) → clusters, plus the old→new ward-code mapping when
the gazetteer carries one.

Run standalone:
    spark-submit --py-files address_parser_spark.zip jobs/run_pipeline.py

With a ``StageStore`` attached, two stages land as snapshots (parquet
locally, Iceberg table on a real cluster) with lineage records: ``resolved``,
the Python resolve kernel's output, and ``clustered``, the result. The store
is bound to a fingerprint of the pages and the gazetteer. A rerun on the same
input reads committed snapshots back, so a resume re-runs only the JVM-only
string stars and CC; a rerun on another input raises ``ValueError``.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from address_parser_spark.gazetteer.nodes import (
    alias_registries,
    build_nodes,
    build_repair_state,
    nodes_to_spark,
)
from address_parser_spark.gazetteer.synth import Gazetteer
from address_parser_spark.operators.cluster import cluster_mentions
from address_parser_spark.operators.parse import resolve_mentions
from address_parser_spark.sources.lineage import StageStore


def attach_new_ward_codes(
    spark: SparkSession, clustered: DataFrame, nodes_df: DataFrame, gaz: Gazetteer
) -> DataFrame:
    """J4 wiring: old→new administrative-code mapping on the flagship output.

    The preferred mapping row per canonical node is resolved ONCE on the
    nodes DIMENSION (reference ``map_old_address_ids_to_new`` preference
    semantics via ``operators.mapping.map_old_to_new``), then broadcast-joined
    onto the clustered mentions on ``ward_code`` — no shuffle and no window
    ever touches the fact table, so the flagship scaling profile is
    unchanged. Keyed on the old WARD CODE rather than node_id so repair-only
    resolutions (no winner node, but a code attached by the lookup cascade)
    map too. New-format winners already carry their new-format ward code."""
    from address_parser_spark.operators.mapping import map_old_to_new, mappings_to_spark

    mappings = mappings_to_spark(spark, gaz.ward_mappings)
    old_nodes = (
        nodes_df.filter((~F.col("is_new")) & F.col("ward_code").isNotNull())
        .select("node_id", "ward_code", "province", "district")
    )
    node_map = (
        map_old_to_new(old_nodes, mappings)
        .select(F.col("ward_code").alias("_old_wc"),
                "new_ward_code", "new_ward_name", "new_province_name")
        # nodes sharing a ward code carry the same (province, district) and
        # thus the same preferred mapping row — one row per code
        .dropDuplicates(["_old_wc"])
    )
    return (
        clustered.join(
            F.broadcast(node_map), clustered["ward_code"] == node_map["_old_wc"], "left"
        )
        .drop("_old_wc")
        .withColumn(
            "new_ward_code",
            F.when(F.col("is_new"), F.col("ward_code")).otherwise(F.col("new_ward_code")),
        )
        .withColumn(
            "new_ward_name",
            F.when(F.col("is_new"), F.col("ward")).otherwise(F.col("new_ward_name")),
        )
        .withColumn(
            "new_province_name",
            F.when(F.col("is_new"), F.col("province")).otherwise(F.col("new_province_name")),
        )
    )


def fingerprint_input(pages: DataFrame, gaz: Gazetteer) -> str:
    """sha256 over the gazetteer's record lists (canonical JSON) and the
    pages' row count and order-insensitive content hash (one JVM aggregate;
    the hashes are summed as decimals, so the sum cannot overflow)."""
    row = pages.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*pages.columns).cast("decimal(20,0)")).alias("h"),
    ).first()
    payload = json.dumps(dataclasses.asdict(gaz), sort_keys=True) + f"|{row['n']}|{row['h']}"
    return hashlib.sha256(payload.encode("utf-8")).hexdigest()


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    gaz: Gazetteer,
    store: Optional[StageStore] = None,
) -> DataFrame:
    """pages → clustered mentions (mid, url, mention, std, parsed components,
    street_address, format, entity_key, cluster_id, new_ward_code/-name)."""
    nodes = build_nodes(gaz)
    registries = alias_registries(gaz)
    repair_state = build_repair_state(gaz, nodes)
    if store is not None:
        store.bind_input(fingerprint_input(pages, gaz))

    # html:binary intake (BASELINE.json input_hint) is handled INSIDE
    # extract_normalize: pages whose text column is null/empty take a union
    # branch whose fused UDF extracts text from markup first; texted rows
    # never ship html bytes to Python, and each branch plans one
    # ArrowEvalPython.
    build_resolved = lambda: resolve_mentions(pages, nodes, registries, repair_state=repair_state)

    # ``resolved`` feeds three downstream branches (the two stars and the
    # final join) and must be materialized exactly once: a durable snapshot
    # when a store is attached, else an eager localCheckpoint. localCheckpoint
    # rather than persist: it materializes once AND truncates the logical
    # plan to an RDD scan. Persisted frames with UDF-heavy plans make every
    # subsequent query pay driver-side plan canonicalization against the
    # cache registry (measured ~20 s per stage once a few big plans were
    # cached).
    #
    # eager=True is LOAD-BEARING: AQE materializes query stages as concurrent
    # futures, and a lazy checkpoint referenced by several in-flight futures
    # is recomputed by EACH of them (no synchronization on the first
    # materialization) — measured as the whole UDF/window chain re-executing
    # up to 4× with run-to-run AQE-dependent variance. The eager barrier
    # costs one job of straggler idle time; the duplicate compute costs
    # minutes.
    resolved = (
        build_resolved().localCheckpoint(eager=True) if store is None
        else store.run_stage("resolved", build_resolved)
    )

    # The two string stars and CC are JVM-only and cheap next to the resolve
    # kernel, so they stay a lazy single-consumer call and a resume
    # recomputes them. No blocking keys and no cap: clustering reads the
    # resolved strings directly.
    def build_clusters() -> DataFrame:
        checkpoint_fn = None
        if store is not None:
            checkpoint_fn = lambda df, it: store.write(df, f"cc_iter_{it + 1:03d}")
        return cluster_mentions(resolved, checkpoint_fn=checkpoint_fn)

    clustered = build_clusters() if store is None else store.run_stage("clustered", build_clusters)
    if gaz.ward_mappings:
        clustered = attach_new_ward_codes(
            spark, clustered, nodes_to_spark(spark, nodes), gaz
        )
    return clustered
