"""The benchmark's workloads.

Each workload stages a corpus from a seed (outside any timed region), runs
the measured job through the engine's public functions, checks the output
against generator ground truth, and has a traced twin that calls the same
public functions one layer at a time.

Sizes are chosen so that one run — session set-up, a cold job, warm jobs,
checks and shutdown — fits the run budget on a 4-vCPU box; the fixed cost
per job dominates at these sizes (see README.md).
"""

from __future__ import annotations

import inspect
import pickle
from collections import Counter
from dataclasses import dataclass, field
from itertools import combinations
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

MAX_BLOCK = 64            # run_pipeline's default block cap
JACCARD_THRESHOLD = 0.10  # bench.py's connected-components threshold
ER_MIN_F1 = 0.95          # per-corpus floor; measured 0.973-1.0 at 400 pages
DEDUP_MIN_F1 = 0.99


def corpus_seed(seed: int, rep: int) -> int:
    """A fresh corpus per timed job: the engine's per-worker caches must not
    see a corpus twice, as no batch user re-runs the same input."""
    return seed * 1000 + rep


def noop_sink(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _accepted(fn: Callable, **kwargs) -> dict:
    """The keyword arguments ``fn`` still takes, so that dropping an unused
    parameter from the engine does not break the benchmark."""
    params = inspect.signature(fn).parameters
    return {k: v for k, v in kwargs.items() if k in params}


@dataclass
class Corpus:
    path: str                     # pages or documents parquet
    gold_path: str | None = None  # gold mentions parquet (ER)
    template_of: dict[str, int] = field(default_factory=dict)  # mirror url -> template


@dataclass
class Outcome:
    """What the checks of one job found."""
    tp: int = 0
    fp: int = 0
    fn: int = 0
    problems: list[str] = field(default_factory=list)

    @property
    def f1(self) -> float:
        p = self.tp / (self.tp + self.fp) if self.tp + self.fp else 1.0
        r = self.tp / (self.tp + self.fn) if self.tp + self.fn else 1.0
        return 2 * p * r / (p + r) if p + r else 0.0


# ---------------------------------------------------------------- ER -------

def _write_parquet(path: Path, columns: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(columns), str(path))


def _write_pages(path: Path, pages: list[tuple]) -> None:
    import pyarrow as pa

    url, ts, html, text, lang = (list(c) for c in zip(*pages))
    _write_parquet(path, {
        "url": pa.array(url, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "html": pa.array(html, pa.binary()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string()),
    })


def _write_golds(path: Path, golds: list[tuple]) -> None:
    import pyarrow as pa

    cols = ["url", "mention", "province_code", "district_code", "ward_code", "is_new"]
    data = list(zip(*golds)) if golds else [[] for _ in cols]
    types = [pa.string()] * 5 + [pa.bool_()]
    _write_parquet(path, {c: pa.array(list(v), t) for c, v, t in zip(cols, data, types)})


class ErWorkload:
    """``run_pipeline`` over synthetic pages, optionally through a
    ``StageStore`` (durable) or as html-only mirrors of a template pool."""

    def __init__(self, name: str, pages: int, durable: bool = False, templates: int = 0):
        self.name = name
        self.items = pages
        self.durable = durable
        self.templates = templates  # > 0: html-only mirrors of this many pages

    def stage(self, spark: SparkSession, gaz, seed: int, out_dir: Path) -> Corpus:
        """Generated on the driver and written with pyarrow, so staging starts
        no Spark job and warms no Python worker before the cold job."""
        from address_parser_spark.sources.pages import synth_pages_local

        out_dir.mkdir(parents=True, exist_ok=True)
        template_of: dict[str, int] = {}
        if not self.templates:
            pages, golds = synth_pages_local(gaz, self.items, seed=seed)
        else:
            base, base_golds = synth_pages_local(gaz, self.templates, seed=seed)
            gold_by_url: dict[str, list[tuple]] = {}
            for g in base_golds:
                gold_by_url.setdefault(g[0], []).append(g)
            pages, golds = [], []
            for i in range(self.items):
                t = i % self.templates
                url, ts, html, _text, lang = base[t]
                mirror = url if i < self.templates else f"https://mirror{i % 31}.vn/m{i}"
                pages.append((mirror, ts, html, None, lang))
                golds.extend((mirror,) + g[1:] for g in gold_by_url.get(url, ()))
                template_of[mirror] = t
        _write_pages(out_dir / "pages.parquet", pages)
        _write_golds(out_dir / "gold.parquet", golds)
        return Corpus(str(out_dir / "pages.parquet"), str(out_dir / "gold.parquet"), template_of)

    def run(self, spark: SparkSession, gaz, corpus: Corpus, scratch: Path) -> DataFrame:
        """The measured job: ``run_pipeline`` plus the noop sink."""
        from address_parser_spark.plans.pipeline import run_pipeline
        from address_parser_spark.sources.lineage import StageStore

        pages = spark.read.parquet(corpus.path)
        store = StageStore(spark, str(scratch / "store")) if self.durable else None
        out = run_pipeline(spark, pages, gaz, store=store)
        noop_sink(out)
        return out

    def check(self, spark: SparkSession, gaz, corpus: Corpus, out: DataFrame,
              full: bool) -> Outcome:
        """Pairwise F1 against the generator's gold mentions. The full check
        (a run's cold job) uses ``operators.eval`` and, for the durable
        pipeline, compares with the in-memory pipeline; the quick check of
        warm jobs scores every mention pair on the driver, as the eval
        module's few-shuffle job would cost a quarter of a warm job."""
        rows = out.select("url", "mention", "entity_key", "cluster_id").collect()
        res = self._labeled_pairs_f1(spark, corpus, out) if full else self._all_pairs_f1(corpus, rows)
        if res.f1 < ER_MIN_F1:
            res.problems.append(f"pairwise F1 {res.f1:.4f} < {ER_MIN_F1}")
        if self.templates:
            res.problems += self._check_mirrors(corpus, rows)
        if self.durable and full:
            res.problems += self._check_matches_in_memory(spark, gaz, corpus, rows)
        return res

    @staticmethod
    def _labeled_pairs_f1(spark: SparkSession, corpus: Corpus, out: DataFrame) -> Outcome:
        from address_parser_spark.operators.eval import gold_entity_col, labeled_pairs, pairwise_f1
        from address_parser_spark.operators.pairs import with_blocking_keys

        gold = (
            spark.read.parquet(corpus.gold_path)
            .withColumn("gold_entity", gold_entity_col())
            .select("url", "mention", "gold_entity")
        )
        keyed = with_blocking_keys(out).join(gold, ["url", "mention"])
        m = pairwise_f1(labeled_pairs(keyed.select("mid", "keys", "gold_entity", "cluster_id")))
        return Outcome(m["tp"], m["fp"], m["fn"])

    @staticmethod
    def _all_pairs_f1(corpus: Corpus, rows: list) -> Outcome:
        """Over all pairs of gold mentions: same gold entity vs same cluster.
        A gold mention missing from the output is a cluster of its own."""
        import pyarrow.parquet as pq

        gold = pq.read_table(corpus.gold_path).to_pylist()
        cluster = {(r["url"], r["mention"]): r["cluster_id"] for r in rows}
        labels = [
            ((g["province_code"], g["district_code"], g["ward_code"], g["is_new"]),
             cluster.get((g["url"], g["mention"]), ("missing", g["url"], g["mention"])))
            for g in gold
        ]

        def pairs(keys) -> int:
            return sum(n * (n - 1) // 2 for n in Counter(keys).values())

        both = pairs(labels)
        return Outcome(both, pairs(c for _, c in labels) - both, pairs(g for g, _ in labels) - both)

    @staticmethod
    def _check_mirrors(corpus: Corpus, rows: list) -> list[str]:
        """Every mirror url yields the (mention, entity_key) set of its
        template page."""
        got: dict[str, set] = {url: set() for url in corpus.template_of}
        for r in rows:
            got[r["url"]].add((r["mention"], r["entity_key"]))
        by_template: dict[int, set] = {}
        bad = 0
        for url, t in corpus.template_of.items():
            bad += by_template.setdefault(t, got[url]) != got[url]
        return [f"{bad} mirror urls differ from their template"] if bad else []

    @staticmethod
    def _check_matches_in_memory(spark, gaz, corpus: Corpus, rows: list) -> list[str]:
        """The durable pipeline's output equals the in-memory pipeline's on
        the same corpus (url, mention, entity_key, cluster representative)."""
        from address_parser_spark.plans.pipeline import run_pipeline

        ref = run_pipeline(spark, spark.read.parquet(corpus.path), gaz)
        cols = ("url", "mention", "entity_key", "cluster_id")
        if sorted(map(tuple, rows)) != sorted(map(tuple, ref.select(*cols).collect())):
            return ["durable output differs from the in-memory pipeline"]
        return []

    def traced(self, spark: SparkSession, gaz, corpus: Corpus, scratch: Path,
               tracer) -> tuple[DataFrame, Callable[[], dict]]:
        """``run_pipeline``'s stages one public call at a time, each
        materialized inside its own span. Returns the output and a function
        that computes the layer counters from the materialized frames (call
        it outside the layer spans)."""
        from address_parser_spark.gazetteer import nodes as gnodes
        from address_parser_spark.operators.cluster import cluster_mentions
        from address_parser_spark.operators.pairs import equality_edges, with_blocking_keys
        from address_parser_spark.operators.parse import extract_normalize, resolve_mentions
        from address_parser_spark.plans.pipeline import attach_new_ward_codes
        from address_parser_spark.sources.lineage import StageStore

        pages = spark.read.parquet(corpus.path)
        with tracer.span("gazetteer"):
            nodes = gnodes.build_nodes(gaz)
            nodes_df = gnodes.nodes_to_spark(spark, nodes)
            index_fn = getattr(gnodes, "ngram_index_df", None)
            index_df = index_fn(nodes_df) if index_fn else None
            registries = gnodes.alias_registries(gaz)
            repair_state = gnodes.build_repair_state(gaz, nodes)
        store = StageStore(spark, str(scratch / "store")) if self.durable else None

        def keep(name: str, df: DataFrame) -> DataFrame:
            if store is None:
                return df
            with tracer.span("lineage.store"):
                return store.write(df, name)

        with tracer.span("parse.extract"):
            mentions = extract_normalize(pages, registries).localCheckpoint(eager=True)
        with tracer.span("parse.resolve"):
            resolved = resolve_mentions(**_accepted(
                resolve_mentions, pages=pages, nodes_df=nodes_df, index_df=index_df,
                registries=registries, nodes=nodes, repair_state=repair_state,
            )).localCheckpoint(eager=True)
        resolved = keep("resolved", resolved)
        with tracer.span("pairs.keys"):
            keyed = with_blocking_keys(resolved).localCheckpoint(eager=True)
        keyed = keep("keyed", keyed)
        with tracer.span("pairs.edges"):
            edges = equality_edges(keyed, max_block=MAX_BLOCK).localCheckpoint(eager=True)
        edges = keep("edges", edges)

        ckpt = None
        if store is not None:
            def ckpt(df: DataFrame, it: int) -> DataFrame:
                with tracer.span("lineage.store"):
                    return store.write(df, f"cc_iter_{it + 1:03d}")

        with tracer.span("cluster.cc"):
            clustered = cluster_mentions(
                resolved, extra_edges=edges, checkpoint_fn=ckpt
            ).localCheckpoint(eager=True)
        clustered = keep("clustered", clustered)
        out = clustered
        if gaz.ward_mappings:
            with tracer.span("pipeline.ward_map"):
                out = attach_new_ward_codes(spark, clustered, nodes_df, gaz).localCheckpoint(eager=True)
        with tracer.span("sink"):
            noop_sink(out)

        def counters() -> dict:
            from address_parser_spark.functions.udfs import build_resolver_state
            from address_parser_spark.operators.cluster import SMALL_GRAPH_EDGES
            from address_parser_spark.operators.pairs import dropped_blocks

            n_mentions = mentions.count()
            distinct = mentions.select("mention").distinct().count()
            emitted = edges.count()
            canonical = (
                edges.select(F.greatest("src", "dst").alias("a"), F.least("src", "dst").alias("b"))
                .filter(F.col("a") != F.col("b")).distinct().count()
            )
            lineage = store.lineage() if store is not None else []
            cc_iters = [e for e in lineage if e["stage"].startswith("cc_iter_") and "rows" in e]
            # Without a store the loop's rounds are not visible from outside;
            # cc_iter_000 is the loop's initial canonical edge set, not a round.
            rounds = max(0, len(cc_iters) - 1)
            # The loop runs whenever a store is attached; without one, only
            # when the CC input (one anchor edge per resolved row plus the
            # pair edges) exceeds the small-graph limit.
            n_resolved = resolved.count()
            distributed = store is not None or n_resolved + canonical > SMALL_GRAPH_EDGES
            return {
                "gazetteer.nodes": len(nodes),
                "gazetteer.state_mb": len(pickle.dumps(build_resolver_state(nodes))) / (1 << 20),
                "parse.extract.pages": pages.count(),
                "parse.extract.mentions": n_mentions,
                "parse.extract.html_pages": pages.filter(
                    F.col("text").isNull() | (F.col("text") == "")).count(),
                "parse.resolve.distinct_mentions": distinct,
                "parse.resolve.distinct_ratio": distinct / n_mentions if n_mentions else 0.0,
                "parse.resolve.unresolved": distinct - resolved.select("mention").distinct().count(),
                "pairs.edges.emitted": emitted,
                "pairs.edges.canonical": canonical,
                "pairs.edges.useful_ratio": canonical / emitted if emitted else 0.0,
                "pairs.edges.dropped_blocks": dropped_blocks(keyed, max_block=MAX_BLOCK).count(),
                "cluster.cc.rounds": rounds,
                "cluster.cc.distributed": int(distributed),
                "lineage.store.bytes": sum(e.get("bytes", 0) for e in lineage),
            }

        return out, counters


# ------------------------------------------------------------- dedup -------

def _cc_edges(pairs: DataFrame) -> DataFrame:
    return pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))


def planted_pairs(docs: DataFrame) -> set[tuple[int, int]]:
    """Near-duplicate pairs planted by the generator, found from the text
    alone: doc ``i`` is doc ``i-1``'s text plus one more token."""
    a = docs.select(F.col("doc_id").alias("a"), F.col("text").alias("ta"))
    b = docs.select(F.col("doc_id").alias("b"), F.col("text").alias("tb"))
    rows = (
        a.join(b, F.col("b") == F.col("a") + 1)
        .filter(
            F.col("tb").startswith(F.concat(F.col("ta"), F.lit(" ")))
            & (F.size(F.split("tb", " ")) == F.size(F.split("ta", " ")) + 1)
        )
        .select("a", "b")
        .collect()
    )
    return {(r["a"], r["b"]) for r in rows}


class DedupWorkload:
    """The fast-hash dedup operators over synthetic documents with planted
    near-duplicate pairs. JVM-only: no Python on the data path."""

    def __init__(self, name: str, docs: int):
        self.name = name
        self.items = docs

    def stage(self, spark: SparkSession, gaz, seed: int, out_dir: Path) -> Corpus:
        from address_parser_spark.sources.documents import synth_documents_spark

        out_dir.mkdir(parents=True, exist_ok=True)
        path = str(out_dir / "docs.parquet")
        synth_documents_spark(spark, self.items, partitions=8, seed=seed).write.parquet(path)
        return Corpus(path)

    def run(self, spark: SparkSession, gaz, corpus: Corpus, scratch: Path) -> DataFrame:
        """The measured sweep; returns the connected components of the
        n-gram Jaccard pairs."""
        from address_parser_spark.operators.cluster import connected_components
        from address_parser_spark.operators.dedup import (
            exact_duplicates, minhash_band_pairs, ngram_jaccard_pairs, simhash32,
        )
        from address_parser_spark.operators.textquality import fingerprints

        docs = spark.read.parquet(corpus.path)
        noop_sink(exact_duplicates(docs))
        noop_sink(minhash_band_pairs(docs, fast_hash=True))
        pairs = ngram_jaccard_pairs(docs, threshold=JACCARD_THRESHOLD, fast_hash=True)
        components = connected_components(_cc_edges(pairs))
        noop_sink(components)
        noop_sink(simhash32(docs))
        noop_sink(fingerprints(docs, fast_hash=True))
        return components

    def check(self, spark: SparkSession, gaz, corpus: Corpus, out: DataFrame,
              full: bool) -> Outcome:
        """Pairwise F1 of "same component" against the planted pairs."""
        gold = planted_pairs(spark.read.parquet(corpus.path))
        members: dict[int, list[int]] = {}
        for r in out.collect():
            members.setdefault(r["component"], []).append(r["id"])
        predicted = {p for ids in members.values() for p in combinations(sorted(ids), 2)}
        res = Outcome(len(predicted & gold), len(predicted - gold), len(gold - predicted))
        if not gold:
            res.problems.append("corpus has no planted pairs")
        if res.f1 < DEDUP_MIN_F1:
            res.problems.append(f"planted-pair F1 {res.f1:.4f} < {DEDUP_MIN_F1}")
        return res

    def traced(self, spark: SparkSession, gaz, corpus: Corpus, scratch: Path,
               tracer) -> tuple[DataFrame, Callable[[], dict]]:
        from address_parser_spark.operators.cluster import SMALL_GRAPH_EDGES, connected_components
        from address_parser_spark.operators.dedup import (
            exact_duplicates, minhash_band_pairs, ngram_jaccard_pairs, simhash32,
        )
        from address_parser_spark.operators.textquality import fingerprints

        docs = spark.read.parquet(corpus.path)
        with tracer.span("dedup.exact"):
            noop_sink(exact_duplicates(docs))
        with tracer.span("dedup.minhash"):
            noop_sink(minhash_band_pairs(docs, fast_hash=True))
        with tracer.span("dedup.jaccard"):
            pairs = ngram_jaccard_pairs(
                docs, threshold=JACCARD_THRESHOLD, fast_hash=True
            ).localCheckpoint(eager=True)
        with tracer.span("cluster.cc"):
            components = connected_components(_cc_edges(pairs))
            noop_sink(components)
        with tracer.span("dedup.simhash"):
            noop_sink(simhash32(docs))
        with tracer.span("textquality.fingerprints"):
            noop_sink(fingerprints(docs, fast_hash=True))

        def counters() -> dict:
            found = {(r["doc_a"], r["doc_b"]) for r in pairs.select("doc_a", "doc_b").collect()}
            gold = planted_pairs(docs)
            return {
                "dedup.jaccard.pairs": len(found),
                "dedup.jaccard.planted_recall": len(found & gold) / len(gold) if gold else 0.0,
                "cluster.cc.distributed": int(len(found) > SMALL_GRAPH_EDGES),
            }

        return components, counters


WORKLOADS = {
    w.name: w
    for w in (
        ErWorkload("er_durable", pages=400, durable=True),
        DedupWorkload("dedup_docs", docs=12000),
        ErWorkload("er_web", pages=400),
        ErWorkload("er_mirror_html", pages=2000, templates=100),
    )
}
