"""Mention → canonical-entity resolution as a DataFrame program.

This is the reference's ``AddressParser.process`` (inexus_parser.py:133-466)
re-planned for Catalyst (SURVEY §3.1). Stages and their physical shape:

1. **extract+normalize** (narrow): one fused Arrow UDF per page —
   trigger-scan extraction, advanced + basic normalization, prefix
   detection (reference ``_detect_by_prefix`` :2685-2762) against broadcast
   alias registries — exploded to one flat row per mention. Each mention
   gets a compact 64-bit key ``mid`` so downstream shuffles move longs, not
   strings. The frame carries no array column: the gram set and partial
   flag are functions of ``std`` that only the kernel reads.
2. **distinct mentions** (one partial-aggregate shuffle): resolution is a
   pure function of the mention text, so everything after this runs once
   per distinct string.
3. **resolve kernel** (repartition on ``std``): one fused Arrow UDF
   (``functions.udfs.make_resolve_udf`` → ``resolve_one``) probes the
   broadcast gazetteer state map-side — gram set and partial flag,
   inverted-index probe, top-K cap, Dice gate with the reference's early
   break, detected-component prioritization, score slice, blend + boosts,
   lexicographic argmax, repair cascade, street extraction, format tag and
   entity key — and emits the finished row, or none for an unresolved
   mention. No corpus × catalog rows exist at any point: the catalog is a
   broadcast dimension.
4. **fact join**: winners (distinct-mention-sized) join back onto the
   (url, mention) rows, as a broadcast when their measured bytes allow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from address_parser_spark.functions.udfs import (
    broadcast_state,
    decode_registries,
    make_extract_features_udf,
    make_resolve_udf,
    resolver_state,
)


def extract_normalize(pages: DataFrame, registries: dict[str, list[str]],
                      carry_cols: list[str] | None = None) -> DataFrame:
    """pages → one row per extracted mention: (url, *carry_cols, mention,
    std, std_basic, det_p, det_d, det_w, mid) — the normalized forms, the
    detected components and a compact key. Narrow — no shuffle; the scan
    reads only the Vietnamese pages' (url, text) plus any ``carry_cols``
    (e.g. the event-time column for the streaming path). ``registries``
    (``gazetteer.nodes.alias_registries``) are broadcast once per call and
    shared by both branches below.

    When the frame carries an ``html`` column, pages whose ``text`` is
    null/empty take a branch whose fused UDF FIRST extracts text from the
    markup (``make_extract_features_udf(from_html=True)``). A filtered union,
    not ``when(need, udf(html))``: Catalyst hoists Python UDFs out of CASE
    branches into an unconditional projection, which would ship every page's
    html bytes through Arrow. Texted rows never reach Python for markup, and
    each branch plans exactly ONE ArrowEvalPython: a separate html→text
    pre-stage in front of this function chained the html UDF and the extract
    UDF in one stage, i.e. two concurrent Python workers per task slot on the
    miss branch (and ~0.8 s of pure overhead at the 1200-page bench even when
    the miss branch was empty)."""
    get_regs = broadcast_state(
        pages.sparkSession, registries, decode_registries, "alias registries"
    )
    features = make_extract_features_udf(get_regs)
    base = pages.filter(F.col("lang") == "vi")
    carry = list(carry_cols or [])
    if "html" in pages.columns:
        features_html = make_extract_features_udf(get_regs, from_html=True)
        need = F.col("text").isNull() | (F.col("text") == "")
        exploded = (
            base.filter(~need)
            .select("url", *carry, F.explode(features(F.col("text"))).alias("f"))
            .unionByName(
                base.filter(need)
                .select("url", *carry, F.explode(features_html(F.col("html"))).alias("f"))
            )
        )
    else:
        exploded = base.select(
            "url", *carry, F.explode(features(F.col("text"))).alias("f")
        )
    return exploded.select("url", *carry, "f.*").withColumn(
        "mid", F.xxhash64("url", "mention")
    )


def _resolve_distinct(mentions: DataFrame, resolve) -> DataFrame:
    """The kernel stage: ``mentions`` (``extract_normalize``'s frame) →
    (mention, std, *RESOLVE_SCHEMA) per DISTINCT resolved mention, lazy.
    ``resolve`` is ``make_resolve_udf``'s kernel; it returns zero or one row
    per mention, so the ``explode`` drops unresolved mentions."""
    # dropDuplicates, not a pre-repartitioned groupBy: a round-6 variant
    # fused the dedup onto the kernel's std exchange (repartition(std) →
    # groupBy(std, mention)), which saved one distinct-mention-sized
    # exchange but shipped EVERY occurrence through the std exchange at
    # full width — dropDuplicates' map-side partial aggregate ships at most
    # one copy per input partition, which is the winning shape on exactly
    # the boilerplate-heavy corpora this dedup exists for (the same mention
    # repeated thousands of times across pages). Measured equal at the
    # 1200-page bench; the partial-agg shape is the scale-correct one.
    args = ["mention", "std", "std_basic", "det_p", "det_d", "det_w"]
    uniq = mentions.dropDuplicates(["mention"]).select(*args)
    return (
        uniq
        # One Python task per core, one task wave. Each Python task waits
        # about 0.25 s before its UDF sees a row (PySpark's per-task
        # ``setup_spark_files`` → ``importlib.invalidate_caches()``, which
        # re-reads the zipped pyspark directory), so a second wave costs more
        # than the pruned kernel's work at 400 pages (8 tasks 1.10 s, 4 tasks
        # 0.77 s at local[4]). The count stays EXPLICIT: the stage is tiny in
        # bytes, and AQE never coalesces an explicit repartition count, where
        # its byte-driven coalescing would serialize the stage into one task.
        # The ``std`` key only spreads rows: no kernel state depends on which
        # mentions share a task.
        .repartition(mentions.sparkSession.sparkContext.defaultParallelism, F.col("std"))
        # explode(udf) plants a GENERATOR between the kernel and the
        # downstream projection: without it Catalyst's python-UDF
        # extraction can materialize TWO chained ArrowEvalPython nodes (one
        # per consumer of the result) and every row pays the kernel twice —
        # measured 11 s → 34 s on the 40k-page profile, the single largest
        # serial term in the scaling story.
        .select("mention", "std", F.explode(resolve(*args)).alias("w"))
        .select("mention", "std", "w.*")
    )


def resolve_mentions(
    pages: DataFrame,
    nodes: list[dict],
    registries: dict[str, list[str]],
    repair_state: dict,
) -> DataFrame:
    """Full extract → dedup → resolve (probe/gate/score/argmax/repair/street)
    pipeline; winners joined back onto the (url, mention) fact rows.

    **Distinct-mention resolution.** The entire resolve is a pure function of
    the mention TEXT (the reference's ``process()`` is a per-string function,
    inexus_parser.py:133), so the expensive stages run once per DISTINCT
    mention. On web corpora the same address string repeats across pages
    (boilerplate footers, mirrored listings); the back-join keys on the raw
    string (collision-proof).

    **One resolve path.** ``nodes`` (``gazetteer.nodes.build_nodes``) and
    ``repair_state`` (``gazetteer.nodes.build_repair_state``) become a
    BROADCAST DIMENSION: their ``resolver_state`` pickles to about 0.24 MB
    per 1k nodes (261 KB for the 1,073-node synthetic gazetteer), and
    ``broadcast_state`` refuses a state over its byte budget rather than
    shipping it. One fused Arrow kernel per distinct mention probes it
    map-side, so no catalog row is ever shuffled — the only exchanges before
    the fact join move distinct mentions (the dedup and the kernel's
    repartition), the shape SURVEY §3.2 calls "embarrassingly parallel".
    ``LocalParser`` runs the same ``resolve_one`` per string — format tag,
    entity key and the unresolved rule included — and is the reference the
    ER fixture pins.

    ``mentions`` feeds both the distinct projection and the final fact join —
    checkpointed EAGERLY: AQE runs query-stage futures concurrently, and a
    lazy checkpoint referenced by several in-flight futures is recomputed by
    each of them (measured: the extract UDF chain re-executing up to 4× with
    AQE-dependent variance).
    """
    mentions = extract_normalize(pages, registries).localCheckpoint(eager=True)
    resolve = make_resolve_udf(pages.sparkSession, resolver_state(nodes, repair_state))
    winners = _resolve_distinct(mentions, resolve)
    # Isolate the python-CPU-bound kernel into its own job: embedded in the
    # fact-join plan it inherits that plan's (byte-driven) parallelism
    # decisions — measured 52s vs 11s for the identical kernel at local[32].
    # The frame is distinct-mention-sized.
    #
    # The broadcast-gate metrics (row count + serialized-byte estimate,
    # consumed below) ride on THIS materialization via observe, so the gate
    # adds no job (and no driver barrier) of its own.
    gate_obs = Observation("winners_gate")
    winners = winners.observe(
        gate_obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(
            sum(
                # octet_length: UTF-8 BYTES, not code points — accented
                # Vietnamese text is ~1.5-2× its character count on the wire.
                (F.coalesce(F.octet_length(F.col(c).cast("string")), F.lit(0))
                 + F.lit(8)
                 for c in winners.columns),
                F.lit(0),
            )
        ).alias("b"),
    ).localCheckpoint(eager=True)

    # Fact join: winners is DISTINCT-MENTION-sized (the whole point of the
    # dedup), so when small enough it ships as a broadcast and the fact table
    # never shuffles at all. Otherwise the join keys on xxhash64(mention)
    # FIRST — partition routing and sort comparisons on an 8-byte long, with
    # the mention string kept as an equality conjunct (collision-proof).
    #
    # Gate on ESTIMATED BYTES, not rows: winners carries 15+ string columns,
    # so a row-count cap alone could ship a multi-GB broadcast to the driver
    # and every executor (OOM on clusters whose executors are smaller than
    # the local driver). EXACT byte sum over the whole (checkpointed,
    # ≤2M-row) frame, kept under ~200 MB serialized — well inside executor
    # memory even at HashedRelation's ~2-4× in-memory expansion. A
    # limit()-sample average would read only the first partition:
    # heavy-tailed mention lengths concentrated elsewhere could slip a
    # multi-hundred-MB broadcast past an average extrapolated from short
    # rows. ZERO extra jobs: both metrics were observed on the checkpoint
    # materialization above.
    gate = gate_obs.get
    n_winners = int(gate["n"] or 0)
    total_bytes = int(gate["b"] or 0)
    fact_k = mentions.select("mid", "url", "mention").withColumn("_mk", F.xxhash64("mention"))
    winners_k = winners.withColumn("_mk", F.xxhash64("mention"))
    if 0 < n_winners <= 2_000_000 and total_bytes <= 200 * 1024 * 1024:
        winners_k = F.broadcast(winners_k)
    return fact_k.join(winners_k, ["_mk", "mention"]).drop("_mk")
