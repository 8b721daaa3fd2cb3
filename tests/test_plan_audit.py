"""Physical-plan audits: assert the scale-critical plan properties the
queries were designed around, so a regression that silently degrades the
plan (lost pushdown, broadcast→sort-merge flip, accidental cartesian,
codegen break) fails CI instead of only showing up as a 100×-scale slowdown.

What each audit encodes (SURVEY §4 "Optimizer & physical execution"):
- filters and column pruning must reach the parquet scan (PushedFilters /
  ReadSchema) — at 100 TB an unpruned scan IS the job cost;
- dimension joins must broadcast (no shuffle of the big side);
- global top-K must be TakeOrderedAndProject (per-partition K + driver
  merge), never a full Sort + single-partition Exchange;
- aggregations must have a map-side partial before the exchange;
- no driver query may plan a CartesianProduct;
- the hot relational operators must sit inside WholeStageCodegen spans.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "formatted") -> str:
    """The physical plan as a string (what df.explain(mode) prints)."""
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
        df._jdf.queryExecution(), mode
    )


@pytest.fixture(scope="module")
def queries():
    return entrymod.queries()


def test_pricing_summary_scan_is_pruned_and_filter_pushed(spark, queries):
    plan = plan_of(queries["pricing_summary"](spark, SF))
    # The shipdate predicate must reach the parquet reader...
    assert "PushedFilters: [" in plan
    assert "LessThanOrEqual(l_shipdate" in plan
    # ...and the scan must read only the 6 referenced columns, not the
    # full 16-column lineitem row (ReadSchema is the scan-level projection).
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    for col in ("l_returnflag", "l_linestatus", "l_quantity", "l_shipdate"):
        assert col in read_schema
    for col in ("l_comment", "l_orderkey", "l_partkey", "l_suppkey"):
        assert col not in read_schema
    # Map-side partial agg before the exchange: two HashAggregate nodes.
    assert "partial_sum" in plan
    assert plan.count("HashAggregate") >= 2
    # AQE formatted plans don't annotate codegen; codegen mode compiles the
    # stages and reports the fused subtrees.
    assert "WholeStageCodegen" in plan_of(queries["pricing_summary"](spark, SF), "codegen")


def test_hierarchy_rollup_dims_broadcast(spark, queries):
    plan = plan_of(queries["hierarchy_rollup"](spark, SF))
    # nation and region are dimension tables: both joins must broadcast —
    # a sort-merge here would shuffle the full customer table twice.
    assert len(re.findall(r"[+:]- BroadcastHashJoin", plan)) == 2
    assert "SortMergeJoin" not in plan
    # exactly ONE shuffle exchange (the final groupBy); the joins move only
    # the broadcast sides
    assert len(re.findall(r"[+:]- Exchange \(", plan)) == 1


def test_semi_and_anti_join_shapes(spark, queries):
    semi = plan_of(queries["semi_join"](spark, SF))
    assert "LeftSemi" in semi
    # the priority predicate must be pushed into the orders scan, not
    # evaluated post-join
    assert "EqualTo(o_orderpriority,1-URGENT)" in semi
    anti = plan_of(queries["anti_join"](spark, SF))
    assert "LeftAnti" in anti


def test_top_events_is_take_ordered(spark, queries):
    plan = plan_of(queries["top_events"](spark, SF))
    # global top-20 must be per-partition top-K + driver merge; a full sort
    # would shuffle the whole events table to one partition
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_events_hourly_has_partial_agg(spark, queries):
    plan = plan_of(queries["events_hourly"](spark, SF))
    assert plan.count("HashAggregate") >= 2
    assert "WholeStageCodegen" in plan_of(queries["events_hourly"](spark, SF), "codegen")


def test_no_driver_query_plans_a_cartesian(spark, queries):
    # er_resolve_pages executes eagerly (localCheckpoint inside the
    # pipeline), so its plan is audited by the pipeline's own tests.
    for name, fn in queries.items():
        if name == "er_resolve_pages":
            continue
        plan = plan_of(fn(spark, SF), mode="simple")
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"


def test_minhash_band_pairs_joins_on_band_key(spark, queries):
    # the LSH bucket self-join must be an equi-join on (band, key) — i.e. a
    # hash-partitioned exchange — not a nested-loop over all pairs
    plan = plan_of(queries["minhash_band_pairs"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_simhash_plans_zero_shuffle(spark, queries):
    # SimHash is per-document math: the 32 vote counters fold map-side in
    # one F.aggregate pass. A hash/range exchange here means the formulation
    # regressed to shuffling token instances — at web scale that shuffles
    # the whole tokenized corpus to compute a per-row value. (fan_out's
    # round-robin scan widening is allowed — it only fires on sub-split
    # inputs like this fixture and is a no-op at scale.)
    plan = plan_of(queries["simhash"](spark, SF))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "HashAggregate" not in plan and "SortAggregate" not in plan, plan


def test_cosine_topk_broadcasts_the_query_side(spark, queries):
    # 8 query vectors vs the full corpus: the tiny side must broadcast so
    # the corpus is scanned in place, never shuffled
    plan = plan_of(queries["cosine_topk"](spark, SF))
    assert "Broadcast" in plan
    assert "Exchange rangepartitioning" not in plan


def test_minhash_signature_pipeline_is_evaluated_exactly_once(spark, queries):
    # Two plan hazards have each made minhash_signatures re-run the whole
    # tokenize→shingle→hash pipeline many times per row (measured 9 copies /
    # ~10× wall at sf0.1):
    #  1. eight sibling per-permutation structs each inlining the staged
    #     shingle column (fixed: one transform over a literal params array);
    #  2. InferFiltersFromGenerate turning explode(_sig) into a
    #     size(_sig) > 0 pre-filter that pushdown expands to the full
    #     expression at the scan (fixed: rule excluded in session.py).
    # The optimized plan must contain exactly one shingle generation and no
    # Filter node at all (nothing in this query can prune a row).
    df = queries["minhash_signatures"](spark, SF)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("sequence(") == 1
    assert "Filter" not in optimized


def test_minhash_band_pairs_evaluates_shingles_exactly_once(spark, queries):
    # minhash_band_pairs references the staged signature column 8 times
    # (element_at(_sig, i) per band) feeding a Generate — the exact
    # CollapseProject/ColumnPruning re-inlining trap documented on
    # minhash_signatures above. Pin the collapsed shape: one shingle
    # generation, one tokenization, in the optimized plan.
    df = queries["minhash_band_pairs"](spark, SF)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("sequence(") == 1, optimized
    assert optimized.count("split(") <= 1, optimized


def test_get_spark_merges_caller_excluded_rules():
    # A caller passing their own excludedRules must not silently drop the
    # load-bearing InferFiltersFromGenerate exclusion — the factory unions.
    from address_parser_spark.session import DEFAULT_CONFS, _merge_confs

    merged = _merge_confs(DEFAULT_CONFS, {
        "spark.sql.optimizer.excludedRules":
            "org.apache.spark.sql.catalyst.optimizer.ConstantFolding",
        "spark.sql.session.timeZone": "UTC+7",
    })
    excl = merged["spark.sql.optimizer.excludedRules"]
    assert "InferFiltersFromGenerate" in excl
    assert "ConstantFolding" in excl
    # ordinary keys: caller wins outright
    assert merged["spark.sql.session.timeZone"] == "UTC+7"


def test_excluded_optimizer_rules_survive_session_config(spark):
    # The engine-wide exclusion is part of the execution posture (see
    # session.py DEFAULT_CONFS); losing it silently doubles every
    # explode-of-computed-array stage.
    assert "InferFiltersFromGenerate" in spark.conf.get(
        "spark.sql.optimizer.excludedRules", ""
    )


def test_media_decode_is_pure_map_chain(spark, queries):
    """media_decode is scan → encode (mapInPandas) → decode (mapInPandas) →
    project: a 100 TB decode stage must plan ZERO exchanges (any shuffle
    here would move the raw payload bytes across the cluster) and read only
    the two columns the encoder consumes."""
    plan = plan_of(queries["media_decode"](spark, SF))
    assert "Exchange" not in plan
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "doc_id" in read_schema and "text" in read_schema
    assert "lang" not in read_schema and "source" not in read_schema


def test_extract_normalize_html_branch_isolated(spark, gaz):
    """extract_normalize on a frame with an html column must plan ONE fused
    ArrowEvalPython per branch (two in total — the html→text step rides
    inside the miss branch's extract UDF, never a chained second UDF), with
    the null/empty text predicate on both branches, joined by a Union — the
    deliberate alternative to when(udf(html)), which Catalyst would hoist
    into an unconditional projection over every page's html bytes."""
    from address_parser_spark.gazetteer.nodes import alias_registries
    from address_parser_spark.operators.parse import extract_normalize
    from address_parser_spark.sources.pages import PAGES_SCHEMA, synth_pages_local

    pages, _ = synth_pages_local(gaz, 30)
    df = spark.createDataFrame(pages, PAGES_SCHEMA)
    assert "html" in df.columns
    plan = plan_of(extract_normalize(df, alias_registries(gaz)))
    # one UDF NODE per branch (the formatted plan names each node in both
    # the tree summary and the detail section, so count node headers)
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 2
    # both branches filter on the text predicate before the union: the
    # texted branch on its negation, the html branch on the predicate itself
    conds = [l for l in plan.splitlines() if l.startswith("Condition") and "text" in l]
    assert len(conds) == 2
    assert sum("NOT" in c for c in conds) == 1
    assert "Union" in plan


def test_mention_frame_is_flat_and_kernel_plans_one_udf(spark, gaz):
    """The mention frame is exactly the extract UDF's fields plus ``mid`` —
    no array column: the gram set and partial flag are derived inside the
    kernel from ``std``. The kernel stage over the checkpointed mentions
    plans exactly ONE ArrowEvalPython, behind an explicit
    ``defaultParallelism``-way exchange on ``std`` (one Python task wave,
    never AQE-coalesced), and emits the finished row."""
    from pyspark.sql import types as T

    from address_parser_spark.functions.udfs import (
        RESOLVE_SCHEMA, make_resolve_udf, resolver_state,
    )
    from address_parser_spark.gazetteer.nodes import (
        alias_registries, build_nodes, build_repair_state,
    )
    from address_parser_spark.operators.parse import _resolve_distinct, extract_normalize
    from address_parser_spark.sources.pages import PAGES_SCHEMA, synth_pages_local

    pages, _ = synth_pages_local(gaz, 30)
    df = spark.createDataFrame(pages, PAGES_SCHEMA)
    mentions = extract_normalize(df, alias_registries(gaz), carry_cols=["warc_ts"])
    assert mentions.columns == [
        "url", "warc_ts", "mention", "std", "std_basic", "det_p", "det_d", "det_w", "mid",
    ]
    assert not any(isinstance(f.dataType, T.ArrayType) for f in mentions.schema.fields)

    nodes = build_nodes(gaz)
    resolve = make_resolve_udf(spark, resolver_state(nodes, build_repair_state(gaz, nodes)))
    kernel = _resolve_distinct(mentions.localCheckpoint(eager=True), resolve)
    assert kernel.columns == ["mention", "std", *RESOLVE_SCHEMA.names]
    plan = plan_of(kernel)
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1, plan
    dp = spark.sparkContext.defaultParallelism
    assert re.search(rf"hashpartitioning\(std#\d+, {dp}\), REPARTITION_BY_NUM", plan), plan


def test_driver_built_frames_are_local_table_scans(spark, gaz):
    """Frames built from driver rows (the gazetteer nodes, the ward
    mappings, the pipeline's ward table, the small-graph union-find output)
    must plan as Arrow-backed ``LocalTableScan``s: a list-of-tuples
    createDataFrame plans a pickled Python RDD (``Scan ExistingRDD``), and
    every action on it starts Python workers. The nodes frame must keep
    NODE_SCHEMA and every value."""
    from pyspark.sql import functions as F

    from address_parser_spark.gazetteer.nodes import NODE_SCHEMA, build_nodes, nodes_to_spark
    from address_parser_spark.operators.cluster import connected_components
    from address_parser_spark.operators.mapping import mappings_to_spark
    from address_parser_spark.plans.pipeline import ward_map_frame

    nodes = build_nodes(gaz)
    assert gaz.ward_mappings
    edges = spark.range(6).select(F.col("id").alias("src"), (F.col("id") % 3).alias("dst"))
    frames = {
        "nodes": nodes_to_spark(spark, nodes),
        "mappings": mappings_to_spark(spark, gaz.ward_mappings),
        "ward_map": ward_map_frame(spark, gaz),
        "union_find": connected_components(edges),
        "empty_nodes": nodes_to_spark(spark, []),
        "empty_union_find": connected_components(edges.limit(0)),
    }
    for name, df in frames.items():
        plan = plan_of(df)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, f"{name}:\n{plan}"

    assert frames["nodes"].schema == NODE_SCHEMA
    names = NODE_SCHEMA.fieldNames()
    got = sorted(tuple(r) for r in frames["nodes"].collect())
    assert got == sorted(tuple(n[f] for f in names) for n in nodes)
    assert frames["empty_nodes"].count() == 0
    assert {(r["id"], r["component"]) for r in frames["union_find"].collect()} == {
        (0, 0), (3, 0), (1, 1), (4, 1), (2, 2), (5, 2)
    }
    assert frames["empty_union_find"].count() == 0
