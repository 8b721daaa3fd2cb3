"""Connected components via alternating large-star / small-star self-joins.

The reference resolves each mention independently; clusters are implicit
("two mentions match iff they resolve to the same canonical node", SURVEY
§2.3 J7). At web scale the north_rule requires the explicit formulation:
edges between matched mentions, resolved into components by the
large-star/small-star algorithm of Kiveris et al., "Connected Components in
MapReduce and Beyond" (SOCC'14) — a public algorithm, O(log² n) rounds,
expressed here purely as DataFrame self-joins + hash aggregations.

Each round is checkpointed (``localCheckpoint`` by default, or a parquet
round-trip via the provided ``checkpoint_fn``) to truncate lineage — without
it the plan doubles every iteration and Catalyst analysis dominates runtime.
Convergence is detected by comparing an order-insensitive fingerprint
(count + sum of per-edge hashes), one cheap agg per round instead of a full
``exceptAll``.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, functions as F

MAX_ITERATIONS = 30

# Below this many canonical edges the distributed loop is pure overhead:
# 10-20 driver-serialized rounds to converge a graph that fits in one
# driver heap costs 15-30 s where an in-memory union-find takes
# milliseconds. The outputs are contract-identical (component = min member
# id), so the switch is invisible to callers; big graphs never take this
# path.
SMALL_GRAPH_EDGES = 100_000


def _canon(edges: DataFrame) -> DataFrame:
    """Undirected edge set, canonical orientation (big, small), no loops."""
    return (
        edges.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    bi = edges.unionAll(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = bi.groupBy("src").agg(F.least(F.min("dst"), F.first("src")).alias("m"))
    return (
        bi.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect all smaller-or-equal neighbors of u to the minimum one."""
    oriented = _canon(edges)
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    neighbors = (
        oriented.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    selfs = mins.select(F.col("src"), F.col("m").alias("dst"))
    return neighbors.unionAll(selfs)


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    row = edges.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _checkpoint_with_fingerprint(df: DataFrame, it: int, checkpoint_fn) -> tuple[DataFrame, tuple[int, int]]:
    """Materialize one iteration AND read its convergence fingerprint from the
    same job via ``observe`` — halving the per-iteration job count (driver-side
    job latency is the serial term that caps scaling efficiency)."""
    from pyspark.sql import Observation

    if checkpoint_fn is not None:
        out = checkpoint_fn(df, it)
        return out, _fingerprint(out)
    obs = Observation(f"cc_fp_{it}")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
    )
    out = observed.localCheckpoint(eager=True)
    metrics = obs.get
    return out, (int(metrics["n"]), int(metrics["h"]))


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Exact same output contract as the distributed loop, computed on the
    driver (path-halving union-find + a min-member pass). Only ever called
    on graphs whose canonical edge count is known to be small."""
    spark = edges.sparkSession
    parent: dict = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for row in edges.collect():
        ra, rb = find(row["src"]), find(row["dst"])
        if ra != rb:
            parent[rb] = ra
    comp_min: dict = {}
    for x in list(parent):
        r = find(x)
        comp_min[r] = min(comp_min.get(r, x), x)
    out = [(x, comp_min[find(x)]) for x in parent]
    # Arrow-backed local frame: a plain list-of-tuples createDataFrame plans
    # a pickled Python RDD, so every downstream action (even a noop write of
    # a few hundred rows) pays defaultParallelism Python-worker round-trips
    # (measured 0.4–1.4 s per action at local[32]). The pandas+Arrow path
    # hands the JVM Arrow batches; execution stays JVM-only.
    import pandas as pd

    if not out:
        return spark.createDataFrame([], "id long, component long")
    pdf = pd.DataFrame(out, columns=["id", "component"]).astype("int64")
    return spark.createDataFrame(pdf, schema="id long, component long")


def connected_components(
    edges: DataFrame,
    checkpoint_fn: Optional[Callable[[DataFrame, int], DataFrame]] = None,
    max_iterations: int = MAX_ITERATIONS,
    timings: Optional[dict] = None,
    small_graph_edges: int = SMALL_GRAPH_EDGES,
) -> DataFrame:
    """edges(src long, dst long) → assignments(id long, component long).

    ``component`` is the minimum member id of each component. Vertices only
    present as isolated nodes must be unioned in by the caller (an edge list
    cannot see them).

    ``checkpoint_fn(df, iteration)`` lets the pipeline swap in durable
    parquet/Iceberg checkpoints for resumability (sources.lineage); default is
    ``localCheckpoint`` (truncates lineage in-memory).

    The loop sizes its OWN shuffle partitioning from the measured edge count
    (~250k edges per partition, floor 8, never above the session setting):
    an iterative algorithm over a shrinking edge set re-pays per-task
    scheduling overhead on EVERY shuffle of EVERY round, so session-level
    partition counts tuned for the big one-pass stages make the loop
    overhead-bound (measured 67s → 12s on a 113k-edge graph at local[32]).
    The session conf is restored on exit.
    """
    import time as _time

    spark = edges.sparkSession
    orig_parts = spark.conf.get("spark.sql.shuffle.partitions")
    _t0 = _time.monotonic()
    current, prev_fp = _checkpoint_with_fingerprint(_canon(edges), -1, checkpoint_fn)
    if timings is not None:
        timings["cc_init"] = round(_time.monotonic() - _t0, 2)
    if checkpoint_fn is None and prev_fp[0] <= small_graph_edges:
        _t0 = _time.monotonic()  # cc_init is reported separately — don't double-count it
        out = _driver_union_find(current)
        if timings is not None:
            timings["cc_rounds"] = 0
            timings["cc_loop"] = round(_time.monotonic() - _t0, 2)
        return out
    try:
        # Partition sizing is per-ROUND, not per-loop: the edge set shrinks
        # geometrically, so late rounds on the initial count's partitioning
        # are pure task-scheduling latency (the serial term that capped the
        # 4→16-core campaign at 4M edges). Two rules, both measured:
        # ~250k edges/partition for size, rounded UP to a full wave of
        # defaultParallelism so no shuffle runs a 1.5-wave straggler tail.
        dp = max(1, spark.sparkContext.defaultParallelism)

        def _size_loop_parts(n_edges: int) -> int:
            by_size = max(8, n_edges // 250_000 + 8)
            waved = ((by_size + dp - 1) // dp) * dp
            return min(int(orig_parts), waved) if int(orig_parts) >= 8 else waved

        rounds = 0
        _t0 = _time.monotonic()
        for it in range(max_iterations):
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(_size_loop_parts(prev_fp[0]))
            )
            stepped = _small_star(_large_star(current))
            current, fp = _checkpoint_with_fingerprint(_canon(stepped), it, checkpoint_fn)
            rounds += 1
            if fp == prev_fp:
                break
            prev_fp = fp
        if timings is not None:
            timings["cc_rounds"] = rounds
            timings["cc_loop"] = round(_time.monotonic() - _t0, 2)

        # Converged state: every edge points directly at its component minimum.
        members = current.select(F.col("src").alias("id"), F.col("dst").alias("component"))
        roots = current.select(F.col("dst").alias("id"), F.col("dst").alias("component"))
        return members.unionAll(roots).groupBy("id").agg(F.min("component").alias("component"))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig_parts)


def cluster_mentions(
    resolved: DataFrame,
    extra_edges: Optional[DataFrame] = None,
    checkpoint_fn: Optional[Callable[[DataFrame, int], DataFrame]] = None,
) -> DataFrame:
    """Mention clustering with entity-anchor edges (+ optional pair edges).

    Same-entity mentions are connected through a virtual anchor vertex
    ``xxhash64(entity_key)`` — a star, not a clique: n-1 edges per entity
    instead of n(n-1)/2, which is what keeps hot entities ("ha noi") from
    exploding the edge list at web scale. ``extra_edges`` (e.g. high-confidence
    string-similarity pairs from the pair stage) are unioned in.

    Returns (mid, url, mention, entity_key, cluster_id) where cluster_id is
    stable (min vertex id in the component).
    """
    # Resolutions whose entity_key actually pins the ward (ward name AND
    # ward_code present — entity_key encodes only codes, so a repaired ward
    # with an ambiguous/null code is NOT identified by the key) anchor on the
    # entity key alone. All others additionally salt the anchor with
    # entity_std: every distinct ward of one district that failed ward
    # resolution — or resolved to a name with no unambiguous code — shares
    # the district-level entity_key, and a bare key anchor would weld those
    # distinct entities into one cluster. Genuinely district-level mentions
    # of the same entity still share entity_std (it is built from the
    # resolved components), so they keep clustering together.
    anchors = resolved.select(
        F.col("mid").alias("src"),
        F.when(
            F.col("ward").isNotNull() & F.col("ward_code").isNotNull(),
            F.xxhash64("entity_key"),
        ).otherwise(F.xxhash64("entity_key", "entity_std")).alias("dst"),
    )
    edges = anchors if extra_edges is None else anchors.unionAll(extra_edges)
    assignments = connected_components(edges, checkpoint_fn=checkpoint_fn)
    return (
        resolved.join(assignments, resolved["mid"] == assignments["id"], "left")
        .drop("id")
        .withColumn("cluster_id", F.coalesce("component", F.col("mid")))
        .drop("component")
    )
