"""The entity-resolution pipeline (SURVEY §7), resumable.

pages → (1) extract+normalize → (2) resolve each distinct mention against the
broadcast gazetteer (one fused Arrow kernel: probe/gate/bounded score/argmax/
repair/street, ``operators.parse.resolve_mentions``) → (3) connected
components over two exact-string stars, the entity anchor and the identical
``(canon, digit_sig)`` group (``operators.cluster.cluster_mentions``; no
blocking keys, no cap) → clusters, plus the old→new ward-code mapping when
the gazetteer carries one: a table of one row per old ward code, built on
the driver (``ward_map_frame``) and broadcast-joined on ``ward_code``.

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
from pyspark.sql import types as T

from address_parser_spark.gazetteer.nodes import (
    alias_registries,
    build_nodes,
    build_repair_state,
)
from address_parser_spark.gazetteer.synth import Gazetteer
from address_parser_spark.operators.cluster import cluster_mentions
from address_parser_spark.operators.parse import resolve_mentions
from address_parser_spark.session import local_frame
from address_parser_spark.sources.lineage import StageStore


def ward_map_frame(spark: SparkSession, gaz: Gazetteer) -> DataFrame:
    """One row per old ward code of the catalog: its preferred new-format
    mapping, resolved in plain Python and shipped as one Arrow-backed local
    frame of strings (``old_ward_code``, ``new_ward_code``, ``new_ward_name``,
    ``new_province_name``; 243 rows on the synthetic gazetteer).

    The preference is ``operators.mapping.map_old_to_new``'s, applied to the
    ward's own district and province names (the PDW node's names): rank
    2·[district name in ``old_district_name``] + [province name in
    ``old_province_name``], null-guarded; the highest rank wins, then the
    lowest mapping ``id``. A code with no mapping row maps to nulls."""
    districts = {d["code"]: d for d in gaz.old_districts}
    provinces = {p["code"]: p for p in gaz.old_provinces}
    rows_by_code: dict[str, list[dict]] = {}
    for m in gaz.ward_mappings:
        rows_by_code.setdefault(m["old_ward_code"], []).append(m)

    def within(name: Optional[str], field: Optional[str]) -> int:
        return int(name is not None and field is not None and name in field)

    table: dict[str, tuple] = {}
    for w in gaz.old_wards:
        d = districts.get(w["district_code"], {})
        d_name = d.get("name") or None
        p_name = provinces.get(d.get("province_code"), {}).get("name") or None
        best = max(
            rows_by_code.get(w["code"], ()),
            key=lambda m: (2 * within(d_name, m.get("old_district_name"))
                           + within(p_name, m.get("old_province_name")), -m["id"]),
            default=None,
        )
        table[w["code"]] = (
            (best["new_ward_code"], best.get("new_ward_name"), best.get("new_province_name"))
            if best else (None, None, None)
        )
    schema = T.StructType([T.StructField(c, T.StringType()) for c in (
        "old_ward_code", "new_ward_code", "new_ward_name", "new_province_name")])
    return local_frame(spark, ((code, *new) for code, new in table.items()), schema)


def attach_new_ward_codes(
    spark: SparkSession, clustered: DataFrame, nodes_df: Optional[DataFrame], gaz: Gazetteer
) -> DataFrame:
    """J4 wiring: old→new administrative-code mapping on the flagship output.

    ``ward_map_frame`` resolves the preferred mapping row per old ward code
    on the driver, and that table is broadcast-joined onto the clustered
    mentions on ``ward_code``: no shuffle and no window touches the fact
    table or the nodes dimension. Keyed on the old WARD CODE rather than
    node_id so repair-only resolutions (no winner node, but a code attached
    by the lookup cascade) map too. New-format winners (``is_new`` true)
    keep their own ward code and names; a null ``is_new`` takes the lookup.

    ``nodes_df`` is not read. It stays in the signature because the
    benchmark's traced path calls this function positionally with the nodes
    frame; ROADMAP item 2 removes it."""
    ward_map = F.broadcast(ward_map_frame(spark, gaz))
    return (
        clustered.join(ward_map, clustered["ward_code"] == ward_map["old_ward_code"], "left")
        .drop(ward_map["old_ward_code"])
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
    street_address, format, entity_key, cluster_id, then new_ward_code,
    new_ward_name and new_province_name when the gazetteer carries ward
    mappings). The ward mapping reads only the driver-built
    ``ward_map_frame``, so this function builds no nodes frame."""
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
        clustered = attach_new_ward_codes(spark, clustered, None, gaz)
    return clustered
