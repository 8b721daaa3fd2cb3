"""Connected-components scaling campaign (VERDICT r4 ask #3).

Measures the large-star/small-star loop (operators/cluster.py, Kiveris et
al. SOCC'14) at multi-million-edge scale on two pinned core widths, using
the same hermetic interleaved best-of-N protocol as scaling_bench.py (see
that module's docstring for why pinning / fresh JVMs / interleaving are
load-bearing on this host).

The graph is generated DISTRIBUTIVELY and deterministically — pure column
arithmetic over ``spark.range``, no Python on the data path, no RNG — as a
mix of the shapes the unit tests pin (tests/test_cluster.py):

- **chains** of 1024 nodes: the adversarial case for round count (path
  graphs need the most halving rounds);
- **stars** of 8192 leaves: the skew case (one hub key dominates the
  ``groupBy("src")`` in both star steps);
- **blob blocks** of 64 nodes with 96 hash-derived edges each: the bulk
  case (many small dense-ish components, occasionally splitting into two).

Node-id spaces are disjoint (offsets 0 / 2^40 / 2^41). Both width levels
scan the SAME parquet bytes. Reported per level: wall seconds, edges/sec,
and the loop's measured round count (the O(log n) claim in
cluster.py — the rounds number must not grow with width).

Usage: python scripts/cc_scaling_bench.py [n_edges] [low_cores] [high_cores] [reps]
Prints one JSON line; campaign rows live in BASELINE.md §"Measured scaling".
"""

from __future__ import annotations

import json
import subprocess
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

CHAIN_LEN = 1024        # nodes per chain
STAR_LEAVES = 8192      # leaves per star
BLOB_NODES = 64         # nodes per blob block
BLOB_EDGES = 96         # edges per blob block

_GEN_SNIPPET = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from address_parser_spark.session import get_spark

spark = get_spark("cc-gen", master="local[16]")
spark.sparkContext.setLogLevel("ERROR")

n_edges = {n_edges}
n_chain = n_edges // 4
n_star = n_edges // 4
n_blob = n_edges - n_chain - n_star

CL, SL, BN, BE = {chain_len}, {star_leaves}, {blob_nodes}, {blob_edges}
STAR_BASE, BLOB_BASE = 1 << 40, 1 << 41

chain = (
    spark.range(n_chain, numPartitions=32)
    .select(
        (F.expr(f"id div {{CL - 1}}") * CL + F.col("id") % (CL - 1)).alias("src"),
        (F.expr(f"id div {{CL - 1}}") * CL + F.col("id") % (CL - 1) + 1).alias("dst"),
    )
)
star = (
    spark.range(n_star, numPartitions=32)
    .select(
        (F.lit(STAR_BASE) + F.expr(f"id div {{SL}}") * (SL + 1)).alias("src"),
        (F.lit(STAR_BASE) + F.expr(f"id div {{SL}}") * (SL + 1)
         + 1 + F.col("id") % SL).alias("dst"),
    )
)
blob = (
    spark.range(n_blob, numPartitions=32)
    .select(
        (F.lit(BLOB_BASE) + F.expr(f"id div {{BE}}") * BN
         + F.pmod(F.xxhash64("id", F.lit(1)), F.lit(BN))).alias("src"),
        (F.lit(BLOB_BASE) + F.expr(f"id div {{BE}}") * BN
         + F.pmod(F.xxhash64("id", F.lit(2)), F.lit(BN))).alias("dst"),
    )
)
chain.unionAll(star).unionAll(blob).write.mode("overwrite").parquet({edges!r})
spark.stop()
"""

_RUN_SNIPPET = """
import json, time, sys
sys.path.insert(0, {repo!r})
from address_parser_spark.session import get_spark
from address_parser_spark.operators.cluster import connected_components

cores = {cores}
spark = get_spark("cc-scaling", master=f"local[{{cores}}]")
spark.sparkContext.setLogLevel("ERROR")

edges = spark.read.parquet({edges!r})
# warm-up: full loop shape on a slice (JVM/codegen/python-worker spin-up)
connected_components(edges.limit(200_000), small_graph_edges=0).write.format(
    "noop").mode("overwrite").save()

rounds = []

def count_round(df, it):
    rounds.append(it)
    return df.localCheckpoint(eager=True)

start = time.monotonic()
out = connected_components(edges, checkpoint_fn=count_round)
out.write.format("noop").mode("overwrite").save()
elapsed = time.monotonic() - start
print(json.dumps({{
    "cores": cores, "edges": {n_edges}, "sec": round(elapsed, 2),
    "edges_per_sec": round({n_edges} / elapsed, 1),
    "cc_rounds": len(rounds),
}}))
spark.stop()
"""


def main() -> None:
    n_edges = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    low = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    high = int(sys.argv[3]) if len(sys.argv) > 3 else 16
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 2

    with tempfile.TemporaryDirectory(prefix="cc_scaling_") as tmp:
        edges = f"{tmp}/edges"
        subprocess.run(
            [sys.executable, "-c", _GEN_SNIPPET.format(
                repo=str(REPO), n_edges=n_edges, edges=edges,
                chain_len=CHAIN_LEN, star_leaves=STAR_LEAVES,
                blob_nodes=BLOB_NODES, blob_edges=BLOB_EDGES)],
            check=True, capture_output=True, text=True, timeout=6000,
        )

        raw: dict[int, list[dict]] = {low: [], high: []}
        # interleave levels (low, high, low, high, …) — host-noise protocol
        for _ in range(reps):
            for cores in (low, high):
                pin = ["taskset", "-c", f"0-{cores - 1}"]
                out = subprocess.run(
                    pin + [sys.executable, "-c", _RUN_SNIPPET.format(
                        repo=str(REPO), cores=cores, edges=edges, n_edges=n_edges)],
                    capture_output=True, text=True, timeout=6000,
                )
                lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
                if not lines:
                    raise RuntimeError(f"{cores}-core run failed:\n{out.stderr[-2000:]}")
                raw[cores].append(json.loads(lines[-1]))

    best = {c: max(v, key=lambda r: r["edges_per_sec"]) for c, v in raw.items()}
    factor = high / low
    efficiency = best[high]["edges_per_sec"] / (factor * best[low]["edges_per_sec"])
    print(json.dumps({
        "job": "connected_components",
        "edges": n_edges,
        "low": best[low],
        "high": best[high],
        "all_reps": {str(k): [r["edges_per_sec"] for r in v] for k, v in raw.items()},
        "rounds": {str(k): [r["cc_rounds"] for r in v] for k, v in raw.items()},
        "scale_factor": factor,
        "scaling_efficiency": round(efficiency, 3),
        "meets_0_8": efficiency >= 0.8,
    }))


if __name__ == "__main__":
    main()
