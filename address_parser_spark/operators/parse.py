"""Mention → canonical-entity resolution as a DataFrame program.

This is the reference's ``AddressParser.process`` (inexus_parser.py:133-466)
re-planned for Catalyst (SURVEY §3.1). Stages and their physical shape:

1. **extract+normalize** (narrow): trigger-scan extraction UDF → explode;
   advanced + basic normalization UDFs; JVM-side distinct 4-gram shingles;
   prefix-detection UDF (reference ``_detect_by_prefix`` :2685-2762) against
   broadcast alias registries. Each mention gets a compact 64-bit key ``mid``
   so downstream shuffles move longs, not strings.
2. **distinct mentions** (one partial-aggregate shuffle): resolution is a
   pure function of the mention text, so everything after this runs once
   per distinct string.
3. **resolve kernel** (repartition on ``std``): one fused Arrow UDF
   (``functions.udfs.make_resolve_udf`` → ``resolve_one``) probes the
   broadcast gazetteer state map-side — inverted-index probe, top-K cap,
   Dice gate with the reference's early break, detected-component
   prioritization, score slice, blend + boosts, lexicographic argmax,
   repair cascade, street extraction. No corpus × catalog rows exist at
   any point: the catalog is a broadcast dimension.
4. **fact join**: winners (distinct-mention-sized) join back onto the
   (url, mention) rows, as a broadcast when their measured bytes allow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from address_parser_spark.functions.columns import char_ngrams_col
from address_parser_spark.functions.udfs import (
    build_resolver_state,
    make_extract_features_udf,
    make_resolve_udf,
)


def extract_normalize(pages: DataFrame, registries: dict[str, list[str]] | None = None,
                      lang: str = "vi", carry_cols: list[str] | None = None,
                      html_col: str = "html") -> DataFrame:
    """pages → one row per extracted mention: normalized forms, shingles,
    detected components, compact key. Narrow — no shuffle; the scan reads only
    (url, text, lang) plus any ``carry_cols`` (e.g. the event-time column for
    the streaming path).

    When the frame carries an ``html`` column, pages whose ``text`` is
    null/empty take a branch whose fused UDF FIRST extracts text from the
    markup (``make_extract_features_udf(from_html=True)``). Same filtered-
    union Catalyst shape as ``textops.html.ensure_text`` — texted rows never
    ship html bytes to Python — but each branch plans exactly ONE
    ArrowEvalPython: composing ensure_text in front of this function chained
    the html UDF and the extract UDF in one stage, i.e. two concurrent
    Python workers per task slot on the miss branch (and ~0.8 s of pure
    overhead at the 1200-page bench even when the miss branch was empty)."""
    regs = registries or {"province": [], "district": [], "ward": []}
    features = make_extract_features_udf(regs, spark=pages.sparkSession)
    base = pages.filter(F.col("lang") == lang)
    carry = list(carry_cols or [])
    if html_col in pages.columns:
        features_html = make_extract_features_udf(
            regs, spark=pages.sparkSession, from_html=True
        )
        need = F.col("text").isNull() | (F.col("text") == "")
        exploded = (
            base.filter(~need)
            .select("url", *carry, F.explode(features(F.col("text"))).alias("f"))
            .unionByName(
                base.filter(need)
                .select("url", *carry, F.explode(features_html(F.col(html_col))).alias("f"))
            )
        )
    else:
        exploded = base.select(
            "url", *carry, F.explode(features(F.col("text"))).alias("f")
        )
    return (
        exploded
        .select(
            "url",
            *(carry_cols or []),
            F.col("f.mention").alias("mention"),
            F.col("f.std").alias("std"),
            F.col("f.std_basic").alias("std_basic"),
            F.struct(
                F.col("f.det_p").alias("det_p"),
                F.col("f.det_d").alias("det_d"),
                F.col("f.det_w").alias("det_w"),
            ).alias("det"),
            F.col("f.partial").alias("partial_flag"),
        )
        # DISTINCT gram set: both candidate ranking (reference iterates
        # ``set(input_ngram_list)``, :2674-2676) and Dice (:2812-2824) consume
        # distinct grams; the within-input multiplicity signal (partial flag)
        # is already folded in by the extract UDF.
        .withColumn("grams", char_ngrams_col(F.col("std"), distinct=True))
        .withColumn("mid", F.xxhash64("url", "mention"))
    )


def _with_format_and_key(winners: DataFrame) -> DataFrame:
    """Format tag + canonical entity key (pure column logic)."""
    return (
        winners
        .withColumn(
            "format",
            F.when(F.col("is_new") == True, F.lit("new"))  # noqa: E712 (tri-state)
            .when(F.col("is_new") == False, F.lit("old"))  # noqa: E712
            .otherwise(F.lit("unknown")),
        )
        .withColumn(
            "entity_key",
            F.concat_ws(
                "|",
                F.coalesce("province_code", F.lit("")),
                # New-format entities have NO district level; the repair
                # cascade still infers one for display parity with the
                # reference, but which old-catalog twin it picks varies with
                # the mention text — keying on it would split the entity.
                F.when(F.col("is_new") == True, F.lit(""))  # noqa: E712
                .otherwise(F.coalesce("district_code", F.lit(""))),
                F.coalesce("ward_code", F.lit("")),
                F.coalesce(F.col("is_new").cast("string"), F.lit("unknown")),
            ),
        )
    )


def resolve_mentions(
    pages: DataFrame,
    nodes: list[dict],
    registries: dict[str, list[str]] | None = None,
    repair_state: dict | None = None,
) -> DataFrame:
    """Full extract → dedup → resolve (probe/gate/score/argmax/repair/street)
    pipeline; winners joined back onto the (url, mention) fact rows.

    **Distinct-mention resolution.** The entire resolve is a pure function of
    the mention TEXT (the reference's ``process()`` is a per-string function,
    inexus_parser.py:133), so the expensive stages run once per DISTINCT
    mention. On web corpora the same address string repeats across pages
    (boilerplate footers, mirrored listings); the back-join keys on the raw
    string (collision-proof).

    **One resolve path.** ``nodes`` (``gazetteer.nodes.build_nodes``) become
    a BROADCAST DIMENSION: their resolver state pickles to about 0.19 MB per
    1k nodes (~7 MB for a national catalog), and ``make_resolve_udf``
    refuses a state over its byte budget rather than shipping it. One fused
    Arrow kernel per distinct mention probes it map-side, so no catalog row
    is ever shuffled — the only exchanges before the fact join move
    distinct mentions (the dedup and the ``std`` co-location), the shape
    SURVEY §3.2 calls "embarrassingly parallel". ``LocalParser`` runs the same
    ``resolve_one`` per string and is the reference the ER fixture pins.

    ``mentions`` feeds both the distinct projection and the final fact join —
    checkpointed EAGERLY: AQE runs query-stage futures concurrently, and a
    lazy checkpoint referenced by several in-flight futures is recomputed by
    each of them (measured: the extract UDF chain re-executing up to 4× with
    AQE-dependent variance).
    """
    mentions = extract_normalize(pages, registries).localCheckpoint(eager=True)

    # dropDuplicates, not a pre-repartitioned groupBy: a round-6 variant
    # fused the dedup onto the kernel's std exchange (repartition(std) →
    # groupBy(std, mention)), which saved one distinct-mention-sized
    # exchange but shipped EVERY occurrence through the std exchange at
    # full width — dropDuplicates' map-side partial aggregate ships at most
    # one copy per input partition, which is the winning shape on exactly
    # the boilerplate-heavy corpora this dedup exists for (the same mention
    # repeated thousands of times across pages). Measured equal at the
    # 1200-page bench; the partial-agg shape is the scale-correct one.
    spark = pages.sparkSession
    uniq = mentions.dropDuplicates(["mention"]).select(
        "mention", "std", "std_basic", "det", "grams", "partial_flag"
    )

    resolve = make_resolve_udf(
        build_resolver_state(nodes), spark=spark, repair_state=repair_state
    )
    winners = (
        uniq
        # Distinct mentions sharing a normalized std (street-level
        # variants of one entity) score against the same candidates; the
        # kernel memoizes (std, cand_std) per worker process, so
        # co-locating equal stds makes the memo hit rate match a global
        # memo (measured 1.75×→~6× effective speedup at 8 workers).
        # EXPLICIT partition count: this stage is python-CPU-bound but
        # tiny in bytes — AQE's byte-driven coalescing would serialize it
        # (an explicit repartition count is never AQE-coalesced).
        .repartition(2 * spark.sparkContext.defaultParallelism, F.col("std"))
        # explode(array(udf)) plants a GENERATOR between the kernel and
        # the downstream filter/projection: without it Catalyst's python-
        # UDF extraction materializes TWO chained ArrowEvalPython nodes
        # (one for the filter predicate, one for the projection) and every
        # row pays the kernel twice — measured 11 s → 34 s on the 40k-page
        # profile, the single largest serial term in the scaling story.
        .select(
            "mention", "std",
            F.explode(
                F.array(
                    resolve(
                        F.col("mention"), F.col("std"), F.col("std_basic"),
                        F.col("grams"),
                        F.col("det.det_p"), F.col("det.det_d"), F.col("det.det_w"),
                        F.coalesce("partial_flag", F.lit(False)),
                    )
                )
            ).alias("w"),
        )
        .filter(
            F.col("w.node_id").isNotNull()
            | F.col("w.province").isNotNull()
            | F.col("w.district").isNotNull()
            | F.col("w.ward").isNotNull()
        )
        .select("mention", "std", "w.*")
    )
    winners = _with_format_and_key(winners)
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
