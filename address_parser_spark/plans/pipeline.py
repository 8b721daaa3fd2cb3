"""The entity-resolution pipeline (SURVEY §7), resumable.

pages → (1) extract+normalize → (2) resolve each distinct mention against the
broadcast gazetteer (one fused Arrow kernel: probe/gate/score/argmax/repair/
street, ``operators.parse.resolve_mentions``) → (3) blocking keys →
(4) equality edges → (5) connected components → clusters, plus the old→new
ward-code mapping when the gazetteer carries one.

Run standalone:
    spark-submit --py-files address_parser_spark.zip jobs/run_pipeline.py

Each stage optionally lands in a ``StageStore`` snapshot (parquet locally,
Iceberg table on a real cluster) with lineage records; a rerun resumes from
the last committed stage.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from address_parser_spark.gazetteer.nodes import (
    alias_registries,
    build_nodes,
    build_repair_state,
    nodes_to_spark,
)
from address_parser_spark.gazetteer.synth import Gazetteer
from address_parser_spark.operators.cluster import cluster_mentions, connected_components
from address_parser_spark.operators.pairs import (
    equality_edges,
    with_blocking_keys,
)
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


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    gaz: Gazetteer,
    store: Optional[StageStore] = None,
    max_block: int = 64,
    attach_ward_mapping: bool = True,
) -> DataFrame:
    """pages → clustered mentions (mid, url, mention, std, parsed components,
    street_address, format, entity_key, cluster_id, new_ward_code/-name)."""
    nodes = build_nodes(gaz)
    registries = alias_registries(gaz)
    repair_state = build_repair_state(gaz, nodes)

    def stage(name: str, build, partition_by=None, multi_consumer: bool = True) -> DataFrame:
        """Materialize each multi-consumer stage exactly once: durable
        snapshot when a store is attached, else in-memory persist —
        ``resolved`` feeds three downstream branches (keys, anchors, final
        join) and must not be recomputed per branch. Single-consumer stages
        stay lazy (every eager action is a serial job that caps scaling
        efficiency)."""
        if store is None:
            if not multi_consumer:
                return build()
            # localCheckpoint rather than persist: materializes once AND
            # truncates the logical plan to an RDD scan. Persisted frames with
            # UDF-heavy plans make every subsequent query pay driver-side plan
            # canonicalization against the cache registry (measured ~20 s per
            # stage once a few big plans were cached).
            #
            # eager=True is LOAD-BEARING: AQE materializes query stages as
            # concurrent futures, and a lazy checkpoint referenced by several
            # in-flight futures is recomputed by EACH of them (no
            # synchronization on the first materialization) — measured as the
            # whole UDF/window chain re-executing up to 4× with run-to-run
            # AQE-dependent variance. The eager barrier costs one job of
            # straggler idle time; the duplicate compute costs minutes.
            return build().localCheckpoint(eager=True)
        return store.run_stage(name, build, partition_by=partition_by)

    # html:binary intake (BASELINE.json input_hint) is handled INSIDE
    # extract_normalize: pages whose text column is null/empty take a union
    # branch whose fused UDF extracts text from markup first; texted rows
    # never ship html bytes to Python (same Catalyst shape as
    # textops.html.ensure_text but one ArrowEvalPython per branch instead of
    # a chained html UDF).
    resolved = stage(
        "resolved",
        lambda: resolve_mentions(
            pages, nodes, registries, repair_state=repair_state
        ),
    )
    # keyed is consumed exactly once (candidate_pairs is a single-aggregation
    # chain since the collect_list rewrite), so it needs no barrier when no
    # durable store is attached — with a store it still lands as a resumable
    # snapshot stage.
    keyed = stage("keyed", lambda: with_blocking_keys(resolved), multi_consumer=False)
    # Equality-only edge rule → the dedicated identity-hash pair generator:
    # no canon/digit_sig strings through the block lists, no non-matching
    # pair rows, no per-pair dedup shuffle (connected_components
    # canonicalizes edges anyway). Same edge set as
    # match_edges(candidate_pairs(...)) — pinned by test_pair_generation.
    edges = stage(
        "edges",
        lambda: equality_edges(keyed, max_block=max_block),
        multi_consumer=False,
    )

    def build_clusters() -> DataFrame:
        checkpoint_fn = None
        if store is not None:
            checkpoint_fn = lambda df, it: store.write(df, f"cc_iter_{it + 1:03d}")
        return cluster_mentions(resolved, extra_edges=edges, checkpoint_fn=checkpoint_fn)

    clustered = stage("clustered", build_clusters, multi_consumer=False)
    if attach_ward_mapping and gaz.ward_mappings:
        clustered = attach_new_ward_codes(
            spark, clustered, nodes_to_spark(spark, nodes), gaz
        )
    return clustered
