"""Connected-components unit tests on hand-built graphs (SURVEY §5 plan).

Every graph runs through BOTH execution paths — the driver union-find
fallback (small graphs) and the distributed large-star/small-star loop
(forced by patching ``cluster.SMALL_GRAPH_EDGES`` to -1, which even a graph
with no edge exceeds) — and the paths must agree exactly.
"""

import random

import pytest

from address_parser_spark.operators import cluster
from address_parser_spark.operators.cluster import connected_components


@pytest.fixture(params=[None, -1], ids=["driver_fallback", "distributed_loop"])
def cc_path(request, monkeypatch):
    """The path under test: ``None`` keeps the default threshold, -1 forces
    the distributed loop for the whole test."""
    if request.param is not None:
        monkeypatch.setattr(cluster, "SMALL_GRAPH_EDGES", request.param)
    return request.param


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = connected_components(df).collect()
    comp: dict[int, int] = {r["id"]: r["component"] for r in rows}
    return comp


def test_chain(spark, cc_path):
    comp = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert all(comp[i] == 1 for i in (1, 2, 3, 4, 5))


def test_star(spark, cc_path):
    comp = _cc(spark, [(10, 1), (10, 2), (10, 3), (10, 4)])
    assert all(comp[i] == 1 for i in (1, 2, 3, 4, 10))


def test_two_components(spark, cc_path):
    comp = _cc(spark, [(1, 2), (2, 3), (10, 11), (11, 12)])
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == comp[12] == 10
    assert comp[1] != comp[10]


def test_self_loop_and_duplicates(spark, cc_path):
    comp = _cc(spark, [(7, 7), (7, 8), (8, 7), (7, 8)])
    assert comp[7] == comp[8] == 7


def test_self_loops_only_give_no_assignments(spark, cc_path):
    """A self-loop is no canonical edge: a graph of self-loops only assigns
    no vertex on either path."""
    assert _cc(spark, [(7, 7), (8, 8)]) == {}


def test_mentions_alone_in_both_stars_keep_their_own_mid(spark, cc_path):
    """Rows that share neither an entity anchor nor a ``(canon, digit_sig)``
    string only emit self-loops; each is its own cluster, ``cluster_id ==
    mid``."""
    resolved = spark.createDataFrame(
        [
            (11, "W", "001", "01|010|001|false", "w d p", "phuong 1 ha noi", "D", "old"),
            (12, "V", "002", "01|010|002|false", "v d p", "phuong 2 ha noi", "D", "old"),
            (13, None, None, "01|010||false", "x d p", "xa x da nang", "D", "old"),
        ],
        "mid long, ward string, ward_code string, entity_key string, entity_std string, "
        "std string, district string, format string",
    )
    got = {r["mid"]: r["cluster_id"] for r in cluster.cluster_mentions(resolved).collect()}
    assert got == {11: 11, 12: 12, 13: 13}


def test_long_path_converges_logarithmically(spark, cc_path):
    n = 64
    comp = _cc(spark, [(i, i + 1) for i in range(n)])
    assert all(comp[i] == 0 for i in range(n + 1))


def test_paths_agree_on_random_graph(spark, monkeypatch):
    rng = random.Random(42)
    edges = [(rng.randrange(500), rng.randrange(500)) for _ in range(400)]
    fast = _cc(spark, edges)
    monkeypatch.setattr(cluster, "SMALL_GRAPH_EDGES", 0)
    slow = _cc(spark, edges)
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
    assert got == _cc(spark, edges)


def test_rounds_bound_on_long_chain(spark, tmp_path, monkeypatch):
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
    with monkeypatch.context() as m:
        m.setattr(cluster, "SMALL_GRAPH_EDGES", 0)
        rows = connected_components(df, checkpoint_fn=ckpt).collect()
    comp = {r["id"]: r["component"] for r in rows}
    assert all(comp[i] == 0 for i in range(n))
    assert comp == _cc(spark, edges)
    assert calls == list(range(len(calls)))  # once per round, in order
    assert 1 <= len(calls) <= 2 * int(math.log2(n)), calls
    assert [e["stage"] for e in store.lineage()] == [f"round_{it:03d}" for it in calls]


def test_unconverged_loop_raises(spark, monkeypatch):
    """A loop that runs out of rounds before its fingerprint reaches a
    fixpoint must fail loudly, naming the rounds run and the edge count,
    instead of returning a partial partition."""
    monkeypatch.setattr(cluster, "MAX_ITERATIONS", 1)
    monkeypatch.setattr(cluster, "SMALL_GRAPH_EDGES", 0)
    n = 1024
    df = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src long, dst long")
    with pytest.raises(RuntimeError, match=r"1 rounds.*1,023 canonical edges"):
        connected_components(df)


def test_entity_anchors_compare_strings_not_hashes(spark, monkeypatch):
    """With every 64-bit hash colliding, ``cluster_mentions`` still groups by
    the anchor and string-star strings: rows sharing a ward-pinned entity key
    cluster, rows sharing a district-level key cluster only with an equal
    entity_std, and rows with different keys cluster when their
    ``(canon, digit_sig)`` strings are equal — but not when only ``canon``
    is. Anchors or strings hashed into vertices would merge every row."""
    from pyspark.sql import functions as F

    from address_parser_spark.operators.cluster import cluster_mentions

    resolved = spark.createDataFrame(
        [
            # (mid, ward, ward_code, entity_key, entity_std, std, district, format)
            (1, "W", "001", "01|010|001|false", "w d p", "w d p", "D", "old"),  # pinned key A
            (2, "W", "001", "01|010|001|false", "w d p", "w d p", "D", "old"),
            (3, "V", "002", "01|010|002|false", "v d p", "v d p", "D", "old"),  # pinned key B
            (4, None, None, "01|010||false", "x d p", "x d p", "D", "old"),     # district key, salted
            (5, None, None, "01|010||false", "y d p", "y d p", "D", "old"),
            # different pinned keys, equal (canon, digit_sig): one cluster
            (6, "Z", "006", "01|010|006|false", "z d p", "z d p", "D", "old"),
            (7, "Z", "007", "01|010|007|false", "p d z", "d z p", "D", "old"),
            # different keys, equal canon, digits 3 vs 4 in std: two clusters
            (8, None, None, "01|||false", "ha noi", "phuong 3 ha noi", None, "old"),
            (9, None, None, "02|||false", "ha noi", "phuong 4 ha noi", None, "old"),
        ],
        "mid long, ward string, ward_code string, entity_key string, entity_std string, "
        "std string, district string, format string",
    ).localCheckpoint(eager=True)
    monkeypatch.setattr(F, "xxhash64", lambda *cols: F.lit(0).cast("long"))

    got = {r["mid"]: r["cluster_id"] for r in cluster_mentions(resolved).collect()}
    assert got == {1: 1, 2: 1, 3: 3, 4: 4, 5: 5, 6: 6, 7: 6, 8: 8, 9: 9}


def _one_string_frame(spark, n: int):
    """``n`` ward-pinned rows with ``n`` distinct entity keys that share one
    ``(canon, digit_sig)``: only the string star can link them."""
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.col("id").alias("mid"),
        F.lit("https://x.vn/p").alias("url"),
        F.concat(F.lit("Phường Tân Định "), F.col("id").cast("string")).alias("mention"),
        F.lit("tan dinh 1 ho chi minh").alias("std"),
        F.lit("Hồ Chí Minh").alias("province"),
        F.lit("Quận 1").alias("district"),
        F.lit("Tân Định").alias("ward"),
        F.format_string("%05d", F.col("id")).alias("ward_code"),
        F.lit(False).alias("is_new"),
        F.lit("old").alias("format"),
        F.format_string("79|760|%05d|false", F.col("id")).alias("entity_key"),
        F.lit("tan dinh quan 1 ho chi minh").alias("entity_std"),
    ).localCheckpoint(eager=True)


def _pipeline_clusters(spark, gaz, monkeypatch, resolved, seen_edges=None):
    """``run_pipeline`` with the resolve stage replaced by ``resolved``, so
    the clustering it runs is exactly the pipeline's. ``seen_edges``
    collects the CC input frames."""
    from address_parser_spark.plans import pipeline

    monkeypatch.setattr(pipeline, "resolve_pages", lambda *a, **k: resolved)
    if seen_edges is not None:
        cc = cluster.connected_components

        def recording(edges, **kwargs):
            seen_edges.append(edges)
            return cc(edges, **kwargs)

        monkeypatch.setattr(cluster, "connected_components", recording)
    pages = spark.createDataFrame([], "url string, text string")
    return pipeline.run_pipeline(spark, pages, gaz)


def test_pipeline_clusters_without_a_block_cap(spark, gaz, monkeypatch):
    """70 rows with 70 distinct entity keys share one ``(canon,
    digit_sig)``; ``plans/er_oracle`` links them into one cluster, so the
    pipeline must too. A blocking-key cap of 64 members dropped every key
    of this group and left 70 singletons."""
    resolved = _one_string_frame(spark, 70)
    out = _pipeline_clusters(spark, gaz, monkeypatch, resolved)
    rows = out.select("mid", "cluster_id").collect()
    assert len(rows) == 70
    assert {r["cluster_id"] for r in rows} == {0}


def test_pipeline_clustering_plans_no_generate_or_collect_set(spark, gaz, monkeypatch):
    """The pipeline's CC input and its clustered output plan no
    ``Generate`` (no exploded key array) and no ``collect_set`` (no
    per-group list)."""
    seen: list = []
    out = _pipeline_clusters(spark, gaz, monkeypatch, _one_string_frame(spark, 8), seen)
    assert len(seen) == 1
    for df in (seen[0], out):
        plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "Generate" not in plan, plan
        assert "collect_set" not in plan, plan


def test_one_string_repeated_1e5_times_is_one_cluster(spark):
    """10^5 rows of one ``(canon, digit_sig)`` with distinct entity keys:
    the string star holds no per-group list and returns one cluster."""
    from pyspark.sql import functions as F

    from address_parser_spark.operators.cluster import cluster_mentions

    n = 100_000
    out = cluster_mentions(_one_string_frame(spark, n))
    got = out.agg(F.count(F.lit(1)).alias("n"), F.countDistinct("cluster_id").alias("c"),
                  F.max("cluster_id").alias("m")).first()
    assert (got["n"], got["c"], got["m"]) == (n, 1, 0)
