"""Connected-components unit tests on hand-built graphs (SURVEY §5 plan).

Every graph runs through BOTH execution paths — the driver union-find
fallback (small graphs) and the distributed large-star/small-star loop
(forced via ``small_graph_edges=0``) — and the paths must agree exactly.
"""

import random

import pytest

from address_parser_spark.operators.cluster import connected_components


@pytest.fixture(params=[None, 0], ids=["driver_fallback", "distributed_loop"])
def small_graph_edges(request):
    return request.param


def _cc(spark, edges, small_graph_edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    kwargs = {} if small_graph_edges is None else {"small_graph_edges": small_graph_edges}
    rows = connected_components(df, **kwargs).collect()
    comp: dict[int, int] = {r["id"]: r["component"] for r in rows}
    return comp


def test_chain(spark, small_graph_edges):
    comp = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)], small_graph_edges)
    assert all(comp[i] == 1 for i in (1, 2, 3, 4, 5))


def test_star(spark, small_graph_edges):
    comp = _cc(spark, [(10, 1), (10, 2), (10, 3), (10, 4)], small_graph_edges)
    assert all(comp[i] == 1 for i in (1, 2, 3, 4, 10))


def test_two_components(spark, small_graph_edges):
    comp = _cc(spark, [(1, 2), (2, 3), (10, 11), (11, 12)], small_graph_edges)
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == comp[12] == 10
    assert comp[1] != comp[10]


def test_self_loop_and_duplicates(spark, small_graph_edges):
    comp = _cc(spark, [(7, 7), (7, 8), (8, 7), (7, 8)], small_graph_edges)
    assert comp[7] == comp[8] == 7


def test_long_path_converges_logarithmically(spark, small_graph_edges):
    n = 64
    comp = _cc(spark, [(i, i + 1) for i in range(n)], small_graph_edges)
    assert all(comp[i] == 0 for i in range(n + 1))


def test_paths_agree_on_random_graph(spark):
    rng = random.Random(42)
    edges = [(rng.randrange(500), rng.randrange(500)) for _ in range(400)]
    fast = _cc(spark, edges, None)
    slow = _cc(spark, edges, 0)
    assert fast == slow


def _counting(calls, checkpoint):
    """A ``checkpoint_fn`` that records each round index it is handed."""
    def checkpoint_fn(df, it):
        calls.append(it)
        return checkpoint(df, it)
    return checkpoint_fn


def test_small_graph_never_checkpoints(spark):
    """The CC path depends on the observed edge count alone: a small graph
    takes the driver union-find even when a ``checkpoint_fn`` is given, so a
    durable run of a small graph writes no per-round snapshots."""
    rng = random.Random(7)
    edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(250)]
    df = spark.createDataFrame(edges, "src long, dst long")
    calls: list[int] = []
    ckpt = _counting(calls, lambda d, it: d.localCheckpoint(eager=True))
    got = {r["id"]: r["component"] for r in connected_components(df, checkpoint_fn=ckpt).collect()}
    assert calls == []
    assert got == _cc(spark, edges, None)


def test_rounds_bound_on_long_chain(spark, tmp_path):
    """Pins the O(log n) round-count claim (Kiveris et al. §3: alternating
    large-star/small-star at least halves path lengths per round). A path
    graph is the adversarial shape; a 1024-node chain must converge in at
    most 2·log2(n) rounds — and the measured count is asserted, not assumed
    (cluster.py's round complexity is otherwise only cited). Rounds are
    counted by a ``checkpoint_fn`` that is a durable store write, so the
    round fingerprint is observed on the parquet write job itself."""
    import math

    from address_parser_spark.sources.lineage import StageStore

    n = 1024
    edges = [(i, i + 1) for i in range(n - 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    store = StageStore(spark, str(tmp_path))
    calls: list[int] = []
    ckpt = _counting(calls, lambda d, it: store.write(d, f"round_{it:03d}"))
    rows = connected_components(df, checkpoint_fn=ckpt, small_graph_edges=0).collect()
    comp = {r["id"]: r["component"] for r in rows}
    assert all(comp[i] == 0 for i in range(n))
    assert comp == _cc(spark, edges, None)
    assert calls == list(range(len(calls)))  # once per round, in order
    assert 1 <= len(calls) <= 2 * int(math.log2(n)), calls
    assert [e["stage"] for e in store.lineage()] == [f"round_{it:03d}" for it in calls]


def test_unconverged_loop_raises(spark, monkeypatch):
    """A loop that runs out of rounds before its fingerprint reaches a
    fixpoint must fail loudly, naming the rounds run and the edge count,
    instead of returning a partial partition."""
    from address_parser_spark.operators import cluster

    monkeypatch.setattr(cluster, "MAX_ITERATIONS", 1)
    n = 1024
    df = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src long, dst long")
    with pytest.raises(RuntimeError, match=r"1 rounds.*1,023 canonical edges"):
        connected_components(df, small_graph_edges=0)


def test_entity_anchors_compare_strings_not_hashes(spark, monkeypatch):
    """With every 64-bit hash colliding, ``cluster_mentions`` still groups by
    the anchor strings: rows sharing a ward-pinned entity key cluster, and
    rows sharing a district-level key cluster only with an equal entity_std.
    Anchors hashed into vertices would merge all five rows."""
    from pyspark.sql import functions as F

    from address_parser_spark.operators.cluster import cluster_mentions

    resolved = spark.createDataFrame(
        [
            # (mid, ward, ward_code, entity_key, entity_std)
            (1, "W", "001", "01|010|001|false", "w d p"),   # pinned key A
            (2, "W", "001", "01|010|001|false", "w d p"),
            (3, "V", "002", "01|010|002|false", "v d p"),   # pinned key B
            (4, None, None, "01|010||false", "x d p"),      # district key, salted
            (5, None, None, "01|010||false", "y d p"),
        ],
        "mid long, ward string, ward_code string, entity_key string, entity_std string",
    ).localCheckpoint(eager=True)
    monkeypatch.setattr(F, "xxhash64", lambda *cols: F.lit(0).cast("long"))

    got = {r["mid"]: r["cluster_id"] for r in cluster_mentions(resolved).collect()}
    assert got == {1: 1, 2: 1, 3: 3, 4: 4, 5: 5}
