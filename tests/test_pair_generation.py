"""The JVM-side per-bucket pair generator (`dedup._doc_pairs_per_bucket`)
replaced bucket SELF-JOINS in both minhash_band_pairs and
ngram_jaccard_pairs. Its contract is exactly the self-join's on `a < b`:
every unordered pair of distinct members, with MULTIPLICITY — a doc that
appears m times in a bucket (repeated shingle instance) and a co-member that
appears n times contribute m*n pairs, and same-doc pairs are excluded even
when the id repeats. These properties are what make the downstream
intersection counts (and so the Jaccard/Dice values) identical to the
DuckDB oracles; this file pins them against a naive Python reference.

``pairs.equality_edges`` (one star per exact ``(canon, digit_sig)`` group) is
pinned the same way: its connected components must equal those of per-key
cliques computed in plain Python from the collected keyed rows.
"""

from __future__ import annotations

from collections import defaultdict
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


# --------------------------------------------------------------------------
# equality_edges: star edges over exact (canon, digit_sig) groups
# --------------------------------------------------------------------------

def _partition(mids, edges) -> set[frozenset]:
    """Connected components of ``mids`` under ``edges`` (union-find)."""
    parent = {m: m for m in mids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    groups: dict = {}
    for m in parent:
        groups.setdefault(find(m), set()).add(m)
    return {frozenset(g) for g in groups.values()}


def _reference_edges(rows, max_block: int) -> list[tuple]:
    """Per-key cliques, straight from the definition: every key of at most
    ``max_block`` rows (a repeated mid counts once per row) links its members
    with equal (canon, digit_sig). Strings are compared, never hashed."""
    blocks: dict = defaultdict(list)
    for r in rows:
        for key in r["keys"]:
            blocks[key].append(r)
    edges = []
    for members in blocks.values():
        if len(members) > max_block:
            continue
        first: dict = {}
        for r in members:
            edges.append((r["mid"], first.setdefault((r["canon"], r["digit_sig"]), r["mid"])))
    return edges


def _edge_partition(keyed, max_block: int) -> set[frozenset]:
    from address_parser_spark.operators.pairs import equality_edges

    edges = [(r["src"], r["dst"]) for r in equality_edges(keyed, max_block=max_block).collect()]
    assert all(a != b for a, b in edges)
    return _partition([r["mid"] for r in keyed.select("mid").collect()], edges)


@pytest.fixture(scope="module")
def keyed80(spark, gaz):
    from address_parser_spark.gazetteer.nodes import (
        alias_registries, build_nodes, build_repair_state,
    )
    from address_parser_spark.operators.pairs import with_blocking_keys
    from address_parser_spark.operators.parse import resolve_mentions
    from address_parser_spark.sources.pages import synth_pages_spark

    nodes = build_nodes(gaz)
    pages = synth_pages_spark(spark, gaz, 80, partitions=4)
    resolved = resolve_mentions(
        pages, nodes, alias_registries(gaz),
        repair_state=build_repair_state(gaz, nodes),
    )
    return with_blocking_keys(resolved).localCheckpoint(eager=True)


# (mid, canon, digit_sig, keys); every canon carries one key list, as
# with_blocking_keys guarantees. At cap 4: "hot" holds 6 rows (A, B, C).
HAND_KEYED = [
    (1, "a", "1", ["hot"]),            # A: its only key is over the cap → no edge
    (2, "a", "1", ["hot"]),
    (10, "b", "1", ["hot", "kb"]),     # B: kb holds 4 rows → fully linked
    (11, "b", "1", ["hot", "kb"]),
    (12, "b", "1", ["hot", "kb"]),
    (13, "b", "2", ["hot", "kb"]),     # C: B's canon, another digit_sig
    (20, "d", "1", ["kd", "shared"]),  # D/E: different canons share a key
    (21, "e", "1", ["ke", "shared"]),
    (30, "f", "1", ["kf"]),            # F: repeated mid, 3 rows → linked
    (30, "f", "1", ["kf"]),
    (31, "f", "1", ["kf"]),
    (40, "g", "1", ["kg"]),            # G: only a repeated mid → no edge
    (40, "g", "1", ["kg"]),
    (50, "h", "1", ["kh"]),            # H: repeats push kh to 5 rows → no edge
    (50, "h", "1", ["kh"]),
    (51, "h", "1", ["kh"]),
    (51, "h", "1", ["kh"]),
    (52, "h", "1", ["kh"]),
]


@pytest.fixture(scope="module")
def hand_keyed(spark):
    return spark.createDataFrame(
        HAND_KEYED, "mid long, canon string, digit_sig string, keys array<string>"
    )


def test_equality_edges_match_python_oracle(keyed80):
    """Same components as per-key cliques at the default cap and at tight
    caps that drop blocks."""
    rows = keyed80.select("mid", "canon", "digit_sig", "keys").collect()
    mids = [r["mid"] for r in rows]
    for cap in (64, 3, 2):
        want = _partition(mids, _reference_edges(rows, cap))
        assert _edge_partition(keyed80, cap) == want, cap
    # non-vacuous: mentions are linked even at cap 2, and cap 2 drops some
    # block that holds an identical pair
    assert sum(len(c) - 1 for c in want) > 0
    links = lambda cap: sum(a != b for a, b in _reference_edges(rows, cap))  # noqa: E731
    assert links(2) < links(64)


def test_equality_edges_hand_built_cases(hand_keyed):
    rows = hand_keyed.collect()
    want = {frozenset({10, 11, 12}), frozenset({30, 31})} | {
        frozenset({m}) for m in (1, 2, 13, 20, 21, 40, 50, 51, 52)
    }
    assert _partition([r["mid"] for r in rows], _reference_edges(rows, 4)) == want
    assert _edge_partition(hand_keyed, 4) == want


def test_equality_edges_compare_strings_not_hashes(keyed80, hand_keyed, monkeypatch):
    """With every 64-bit hash colliding, no edge may join different canon
    strings: group identity is the strings themselves."""
    monkeypatch.setattr(F, "xxhash64", lambda *cols: F.lit(0).cast("long"))
    from address_parser_spark.operators.pairs import equality_edges

    for keyed in (hand_keyed, keyed80):
        sig = {r["mid"]: (r["canon"], r["digit_sig"]) for r in keyed.collect()}
        edges = equality_edges(keyed).collect()
        assert edges
        assert all(sig[r["src"]] == sig[r["dst"]] for r in edges)
