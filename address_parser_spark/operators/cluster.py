"""Connected components via alternating large-star / small-star self-joins.

The reference resolves each mention independently; clusters are implicit
("two mentions match iff they resolve to the same canonical node", SURVEY
§2.3 J7). At web scale the north_rule requires the explicit formulation:
edges between matched mentions, resolved into components by the
large-star/small-star algorithm of Kiveris et al., "Connected Components in
MapReduce and Beyond" (SOCC'14) — a public algorithm, O(log² n) rounds,
expressed here purely as DataFrame self-joins + hash aggregations.

Graphs of at most ``SMALL_GRAPH_EDGES`` canonical edges take a driver
union-find instead; the path is chosen from the observed edge count alone
(the constant is read on each call, so patching it forces either path),
and the union-find's assignments come back as an Arrow-backed local frame
(``session.local_frame``). Each round of the loop is checkpointed
(``localCheckpoint`` by default, or a parquet round-trip via the provided
``checkpoint_fn``) to truncate lineage — without it the plan doubles every
iteration and Catalyst analysis dominates runtime. Convergence is detected by comparing an order-insensitive
fingerprint (count + bit_xor of per-edge hashes), read with ``observe`` from
the checkpoint's own job instead of a full ``exceptAll``; a loop with no
fixpoint after ``MAX_ITERATIONS`` rounds raises. The loop sets no session
conf: AQE's coalescing sizes its shrinking shuffles.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, Observation, Window, functions as F
from pyspark.sql import types as T

from address_parser_spark.operators.pairs import canon_col, digit_sig_col
from address_parser_spark.session import local_frame

MAX_ITERATIONS = 30

# Below this many canonical edges the distributed loop is pure overhead:
# 10-20 driver-serialized rounds to converge a graph that fits in one
# driver heap costs 15-30 s where an in-memory union-find takes
# milliseconds. The outputs are contract-identical (component = min member
# id), so the switch is invisible to callers; big graphs never take this
# path.
SMALL_GRAPH_EDGES = 100_000

_ASSIGNMENT_SCHEMA = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("component", T.LongType())]
)


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


def _checkpoint(df: DataFrame, it: int, checkpoint_fn) -> tuple[DataFrame, tuple[int, int]]:
    """Materialize one round with ``checkpoint_fn`` (default: an eager
    ``localCheckpoint``) and read its convergence fingerprint, (count,
    bit_xor of per-edge hashes), from the same job via ``observe``."""
    obs = Observation(f"cc_fp_{it}")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
    )
    out = observed.localCheckpoint(eager=True) if checkpoint_fn is None else checkpoint_fn(observed, it)
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
    return local_frame(
        spark, [(x, comp_min[find(x)]) for x in parent], _ASSIGNMENT_SCHEMA
    )


def connected_components(
    edges: DataFrame,
    checkpoint_fn: Optional[Callable[[DataFrame, int], DataFrame]] = None,
) -> DataFrame:
    """edges(src long, dst long) → assignments(id long, component long).

    ``component`` is the minimum member id of each component. Vertices only
    present as isolated nodes must be unioned in by the caller (an edge list
    cannot see them).

    The path depends only on the observed canonical edge count: at or below
    the module's ``SMALL_GRAPH_EDGES`` (read at call time) the driver
    union-find runs; above it, the distributed loop.
    ``checkpoint_fn(df, round)`` replaces the loop's per-round
    ``localCheckpoint`` — the pipeline passes durable parquet/Iceberg writes
    (sources.lineage) — and is called once per round, never on the driver
    path. It must materialize its input before returning:
    the round's fingerprint is observed on the job that materializes it.

    The loop's shuffles take the session's partitioning and AQE's
    coalescing; it sets no session conf. A loop that reaches
    ``MAX_ITERATIONS`` rounds without a fingerprint fixpoint raises
    ``RuntimeError`` rather than return a partial partition.
    """
    current, prev_fp = _checkpoint(_canon(edges), -1, None)
    n_edges = prev_fp[0]
    if n_edges <= SMALL_GRAPH_EDGES:
        return _driver_union_find(current)
    for it in range(MAX_ITERATIONS):
        stepped = _small_star(_large_star(current))
        current, fp = _checkpoint(_canon(stepped), it, checkpoint_fn)
        if fp == prev_fp:
            break
        prev_fp = fp
    else:
        raise RuntimeError(
            f"connected components did not converge: {MAX_ITERATIONS} rounds over "
            f"{n_edges:,} canonical edges reached no fixpoint"
        )

    # Converged state: every edge points directly at its component minimum.
    members = current.select(F.col("src").alias("id"), F.col("dst").alias("component"))
    roots = current.select(F.col("dst").alias("id"), F.col("dst").alias("component"))
    return members.unionAll(roots).groupBy("id").agg(F.min("component").alias("component"))


def cluster_mentions(
    resolved: DataFrame,
    extra_edges: Optional[DataFrame] = None,
    checkpoint_fn: Optional[Callable[[DataFrame, int], DataFrame]] = None,
) -> DataFrame:
    """Mention clustering over two exact-string stars (+ optional edges).

    Every row points at the smallest ``mid`` sharing its entity anchor, and
    at the smallest ``mid`` sharing its ``(canon, digit_sig)`` string
    (``operators.pairs.canon_col``/``digit_sig_col``) — stars, not
    cliques: n-1 edges per group instead of n(n-1)/2, which is what keeps
    hot entities ("ha noi") from exploding the edge list at web scale. Both
    are window ``min``s: groups are compared as strings inside a window
    partition, never hashed into a vertex, and no group holds a list, so a
    string repeated 10^5 times is one spillable window partition. The only
    vertices are ``mid``s: two groups whose strings share a 64-bit hash
    cannot merge, and no group can pull in a foreign mention. No group size
    is capped, so the components are exactly ``plans/er_oracle.py``'s.
    ``extra_edges`` are unioned in; the pipeline passes none.

    Returns ``resolved`` plus ``cluster_id``, the smallest ``mid`` of the
    row's component.
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
    # resolved components), so they keep clustering together. entity_std is
    # never null, so the null salt of a pinned row is its own group
    # (plans.er_oracle tags the two anchor kinds the same way).
    pinned = F.col("ward").isNotNull() & F.col("ward_code").isNotNull()
    salt = F.when(~pinned, F.col("entity_std"))
    src = F.col("mid").alias("src")
    edges = resolved.select(
        src, F.min("mid").over(Window.partitionBy("entity_key", salt)).alias("dst")
    ).unionAll(resolved.select(
        src, F.min("mid").over(Window.partitionBy(canon_col(), digit_sig_col())).alias("dst")
    ))
    if extra_edges is not None:
        edges = edges.unionAll(extra_edges)
    assignments = connected_components(edges, checkpoint_fn=checkpoint_fn)
    return (
        resolved.join(assignments, resolved["mid"] == assignments["id"], "left")
        .drop("id")
        .withColumn("cluster_id", F.coalesce("component", F.col("mid")))
        .drop("component")
    )
