"""The JVM-side per-bucket pair generator (`dedup._doc_pairs_per_bucket`)
replaced bucket SELF-JOINS in both minhash_band_pairs and
ngram_jaccard_pairs. Its contract is exactly the self-join's on `a < b`:
every unordered pair of distinct members, with MULTIPLICITY — a doc that
appears m times in a bucket (repeated shingle instance) and a co-member that
appears n times contribute m*n pairs, and same-doc pairs are excluded even
when the id repeats. These properties are what make the downstream
intersection counts (and so the Jaccard/Dice values) identical to the
DuckDB oracles; this file pins them against a naive Python reference.
"""

from __future__ import annotations

from itertools import combinations

import pytest
from pyspark.sql import functions as F


def _reference_pairs(bucket: list[str]) -> list[tuple[str, str]]:
    """All a<b pairs from one bucket with self-join multiplicity semantics:
    combinations of the SORTED member multiset, same-id pairs dropped."""
    return [(a, b) for a, b in combinations(sorted(bucket), 2) if a != b]


BUCKETS = [
    ["d1", "d2"],
    ["d1", "d2", "d3"],
    ["d1", "d1", "d2"],          # repeated member → multiplicity 2 on (d1,d2)
    ["d1", "d1"],                # only same-doc pairs → contributes nothing
    ["d4"],                      # singleton → nothing
    ["d9", "d2", "d9", "d2"],    # 2×2 cross-multiplicity = 4 pairs
]


@pytest.mark.parametrize("buckets", [BUCKETS])
def test_doc_pairs_match_selfjoin_semantics(spark, buckets):
    from address_parser_spark.operators.dedup import _doc_pairs_per_bucket

    grouped = spark.createDataFrame(
        [(i, sorted(b)) for i, b in enumerate(buckets)], "bkey int, docs array<string>"
    )
    got = sorted(
        (r["doc_a"], r["doc_b"]) for r in _doc_pairs_per_bucket(grouped).collect()
    )
    want = sorted(p for b in buckets for p in _reference_pairs(b))
    assert got == want
    # non-vacuous: the fixtures exercise multiplicity and exclusion
    assert want.count(("d1", "d2")) >= 3 and want.count(("d2", "d9")) == 4


def test_doc_pairs_equal_legacy_selfjoin_on_random_buckets(spark):
    """Differential check against the literal self-join formulation the
    generator replaced, over a deterministic pseudo-random bucket set."""
    from address_parser_spark.operators.dedup import _doc_pairs_per_bucket

    rows = []
    state = 1234567
    for i in range(40):
        members = []
        for _ in range(1 + (state := (state * 1103515245 + 12345) % 2**31) % 6):
            members.append(f"doc{(state := (state * 1103515245 + 12345) % 2**31) % 9}")
        rows.append((i, sorted(members)))
    grouped = spark.createDataFrame(rows, "bkey int, docs array<string>")

    new = sorted(
        (r["doc_a"], r["doc_b"]) for r in _doc_pairs_per_bucket(grouped).collect()
    )
    exploded = grouped.select("bkey", F.explode("docs").alias("doc_id"))
    a = exploded.select("bkey", F.col("doc_id").alias("doc_a"))
    b = exploded.select("bkey", F.col("doc_id").alias("doc_b"))
    legacy = sorted(
        (r["doc_a"], r["doc_b"])
        for r in a.join(b, "bkey").filter(F.col("doc_a") < F.col("doc_b")).collect()
    )
    assert new == legacy and len(new) > 50


def test_equality_edges_match_candidate_pair_route(spark, gaz):
    """The pipeline's identity-hash edge generator must emit EXACTLY the edge
    set of the route it replaced — match_edges(candidate_pairs(keyed)) — on a
    real keyed frame (same blocks, same max_block cap semantics, equal canon
    AND digit_sig required), modulo the per-pair dedup the old route paid
    (connected_components canonicalizes either way)."""
    from address_parser_spark.operators.pairs import (
        candidate_pairs,
        equality_edges,
        match_edges,
        with_blocking_keys,
    )
    from address_parser_spark.plans.pipeline import run_pipeline  # noqa: F401
    from address_parser_spark.gazetteer.nodes import (
        alias_registries, build_nodes, build_repair_state,
    )
    from address_parser_spark.operators.parse import resolve_mentions
    from address_parser_spark.sources.pages import synth_pages_spark

    nodes = build_nodes(gaz)
    pages = synth_pages_spark(spark, gaz, 80, partitions=4)
    resolved = resolve_mentions(
        pages, nodes, alias_registries(gaz),
        repair_state=build_repair_state(gaz, nodes),
    )
    keyed = with_blocking_keys(resolved).localCheckpoint(eager=True)

    sizes = {}
    for cap in (64, 3):  # default cap AND a tight cap that actually drops blocks
        old = {
            tuple(sorted((r["src"], r["dst"])))
            for r in match_edges(candidate_pairs(keyed, max_block=cap)).collect()
        }
        new = {
            tuple(sorted((r["src"], r["dst"])))
            for r in equality_edges(keyed, max_block=cap).collect()
        }
        assert new == old, (cap, new ^ old)
        sizes[cap] = len(new)
    assert sizes[64] > 0  # non-vacuous: the corpus must actually produce edges
