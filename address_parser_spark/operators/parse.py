"""Mention → canonical-entity resolution as a DataFrame program.

This is the reference's ``AddressParser.process`` (inexus_parser.py:133-466)
re-planned for Catalyst (SURVEY §3.1). The reference's bulk pipeline runs
``process`` once per row; here each page crosses into Python once, in one
fused Arrow UDF (``functions.udfs.make_resolve_udf``), over one page scan —
narrow, with no shuffle beyond ``fan_out``'s scan-width round-robin:

1. **extract+normalize**: trigger-scan extraction, advanced + basic
   normalization, prefix detection (reference ``_detect_by_prefix``
   :2685-2762) against broadcast alias registries (``page_features``).
2. **resolve** (``resolve_one``), in the same UDF call: gram set and
   partial flag, inverted-index probe, top-K cap, Dice gate with the
   reference's early break, detected-component prioritization, score
   slice, blend + boosts, lexicographic argmax, repair cascade, street
   extraction, format tag and entity key, against the broadcast gazetteer
   state. A mention repeated within an Arrow batch is resolved once. No
   corpus × catalog rows exist at any point: the catalog is a broadcast
   dimension.

Each resolved mention gets a compact 64-bit key ``mid`` so downstream
shuffles move longs, not strings. ``extract_normalize`` runs step 1 alone
and returns the mention frame; the pipeline does not call it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from address_parser_spark.functions.udfs import (
    RESOLVE_SCHEMA,
    broadcast_state,
    decode_registries,
    make_extract_features_udf,
    make_resolve_udf,
    resolver_state,
)
from address_parser_spark.operators.partitioning import fan_out


def _page_args(pages: DataFrame) -> tuple[Column, Column]:
    """The page UDFs' ``(text, html)`` arguments: the text, and the markup
    only where the text is null or empty. The CASE is the UDF's ARGUMENT,
    not a branch around it, so Catalyst evaluates it on the JVM below the
    Arrow node: a page with text ships a null in place of its markup. A
    frame without an ``html`` column passes a null binary."""
    text = F.col("text")
    html = (
        F.when(text.isNull() | (text == ""), F.col("html"))
        if "html" in pages.columns else F.lit(None).cast("binary")
    )
    return text, html


def _mid() -> Column:
    """A mention occurrence's compact key."""
    return F.xxhash64("url", "mention").alias("mid")


def _get_registries(spark, registries: dict[str, list[str]]):
    """``registries`` broadcast for one page UDF; returns the getter."""
    return broadcast_state(spark, registries, decode_registries, "alias registries")


def extract_normalize(pages: DataFrame, registries: dict[str, list[str]]) -> DataFrame:
    """pages → one row per extracted mention: (url, mention, std, std_basic,
    det_p, det_d, det_w, mid) — the normalized forms, the detected
    components and a compact key. Narrow — no shuffle; ONE scan reads the
    Vietnamese pages' (url, text, html), and ONE
    ``make_extract_features_udf`` node (one Python crossing per page) takes
    ``_page_args``. ``registries`` (``gazetteer.nodes.alias_registries``)
    are broadcast once per call."""
    features = make_extract_features_udf(_get_registries(pages.sparkSession, registries))
    return (
        pages.filter(F.col("lang") == "vi")
        .select("url", F.explode(features(*_page_args(pages))).alias("f"))
        .select("url", "f.*")
        .select("*", _mid())
    )


def page_resolver(spark, nodes: list[dict], registries: dict[str, list[str]],
                  repair_state: dict):
    """The ``make_resolve_udf`` node over ``(text, html)`` with its two
    broadcasts, the alias registries and ``resolver_state(nodes,
    repair_state)``. ``plans.pipeline.gazetteer_state`` keeps one per
    session and gazetteer."""
    return make_resolve_udf(
        spark, _get_registries(spark, registries), resolver_state(nodes, repair_state))


def resolve_mentions(
    pages: DataFrame,
    nodes: list[dict],
    registries: dict[str, list[str]],
    repair_state: dict,
) -> DataFrame:
    """pages → one row per resolved mention occurrence: (mention, mid, url,
    std, *RESOLVE_SCHEMA). Unresolved mentions give no row.

    ``resolve_pages`` over a new ``page_resolver``, so each call broadcasts
    its state again; ``run_pipeline`` keeps one resolver per session and
    gazetteer instead.

    ``nodes`` (``gazetteer.nodes.build_nodes``) and ``repair_state``
    (``gazetteer.nodes.build_repair_state``) become a BROADCAST DIMENSION:
    their ``resolver_state`` pickles to about 0.24 MB per 1k nodes (261 KB
    for the 1,073-node synthetic gazetteer), and ``broadcast_state`` refuses
    a state over its byte budget rather than shipping it. ``LocalParser``
    runs the same ``resolve_one`` per string — format tag, entity key and
    the unresolved rule included — and is the reference the ER fixture pins.
    """
    return resolve_pages(pages, page_resolver(pages.sparkSession, nodes, registries, repair_state))


def resolve_pages(pages: DataFrame, resolve) -> DataFrame:
    """pages → ``resolve_mentions``' rows, through ``resolve``, a
    ``page_resolver`` node.

    One lazy, narrow select: the Vietnamese pages' (url, text, html), widened
    by ``fan_out`` when the scan exposes too few partitions, go through ONE
    ``make_resolve_udf`` node per page that extracts the page's mentions
    and resolves each. Starts no Spark job; the UDF runs inside whichever
    job materializes the result (``run_pipeline``'s ``resolved`` stage).
    """
    page_cols = [c for c in ("url", "text", "html") if c in pages.columns]
    # fan_out widens a one-file page table to defaultParallelism tasks: one
    # Python task wave. Re-measured once the engine's daemon had cut the
    # per-task set-up to about 0.01 s (4 vCPU, local[4], perfbench
    # er_durable, seeds 11-13, medians): two waves ran 390 items/s against
    # 400, with cold_s 2.94 against 2.79 s, so the pass stays one wave.
    vi = fan_out(pages.filter(F.col("lang") == "vi").select(*page_cols))
    return (
        # explode(udf) plants a GENERATOR between the UDF and the projection:
        # without it Catalyst's python-UDF extraction can plan one
        # ArrowEvalPython per consumer of the result, and every page pays
        # the UDF twice (measured 11 s → 34 s on a 40k-page profile).
        vi.select("url", F.explode(resolve(*_page_args(vi))).alias("r"))
        .select("url", "r.*")
        .select("mention", _mid(), "url", "std", *RESOLVE_SCHEMA.names)
    )
