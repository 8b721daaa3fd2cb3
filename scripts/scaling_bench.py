"""Scaling-efficiency evidence (BASELINE.json north_rule) for three jobs.

The rule demands ≥0.8 throughput scaling efficiency from N to 4N executors.
No real cluster exists in this sandbox, so the sanctioned proxy is the same
job at two local parallelism levels on the SAME input:

    efficiency = throughput(local[high]) / ((high / low) × throughput(local[low]))

Jobs (each is only its corpus generation, its measured run, its default
sizes and its rate key):

- ``er``: the ER pipeline (``plans.pipeline.run_pipeline``) over synthetic
  pages — ``pages``, ``pages_per_sec``;
- ``cc``: the large-star/small-star loop (``operators.cluster``) over a
  distributively generated graph — ``edges``, ``edges_per_sec``, plus the
  loop's round count per rep (``rounds``: it must not grow with width);
- ``dedup``: the dedup sweep (exact + MinHash-LSH band pairs +
  shingle-Jaccard pairs, the ``fast_hash`` path) over synthetic documents —
  ``docs``, ``docs_per_sec``.

**CPU affinity is load-bearing.** ``local[N]`` bounds concurrent TASKS, not
CPUs: every Arrow stage adds a python worker PROCESS per task slot on top of
the executor thread, plus JVM shuffle/codegen/GC threads — an unpinned
local[8] run on a 32-vCPU box was measured consuming >20 CPUs, inflating the
"N" baseline ~2.5× and making 4× throughput arithmetically impossible (the
round-2 inverted curve). Each level therefore runs under ``taskset -c`` on
exactly N CPUs — the faithful emulation of an N-core cluster slice, which is
what the north_rule's two-cluster-size criterion compares.

Protocol (hermetic, the same for every job):

1. the deterministic corpus is generated ONCE and written to parquet — both
   levels scan identical bytes from disk, exactly like a production job
   (feeding the job a lazy generator would also chain the generation into
   its first stage and distort the python-worker pool);
2. each rep runs in a fresh JVM (subprocess) so thread pools / codegen
   caches / memory fractions don't leak between runs;
3. each rep warms up with a full-shape run on a slice (``er``/``dedup``: a
   1/16 corpus generated alongside; ``cc``: the first 200,000 edges), then
   measures the full corpus; the rep's result is the last JSON line it
   prints;
4. reps INTERLEAVE the two levels (low, high, low, high, …): the sandbox
   host has multi-minute steal episodes (measured 2× swings on identical
   configs), and running all reps of one level inside one episode would
   bias the ratio;
5. the BEST throughput of the ``reps`` per level is used: best-of-N
   approximates uncontended capability, which is what the scaling criterion
   compares. All raw reps are reported alongside.

Usage: python scripts/scaling_bench.py {er,cc,dedup} [n] [low_cores] [high_cores] [reps]
(defaults: er 150000 8 32 2; cc 4000000 4 16 2; dedup 200000 4 16 2).
Prints one JSON line; campaign results live in BASELINE.md §"Measured
scaling" and bench_logs/.
"""

from __future__ import annotations

import json
import subprocess
import sys
import tempfile
from dataclasses import dataclass
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

_GEN = """
import sys
sys.path.insert(0, {repo!r})
from address_parser_spark.session import get_spark
spark = get_spark("gen", master="local[16]")
spark.sparkContext.setLogLevel("ERROR")
{body}
spark.stop()
"""

# ``body`` defines ``measure()`` after its warm-up; the rep times that call
# alone and adds the dict it may return to the rep's JSON line.
_RUN = """
import json, sys, time
sys.path.insert(0, {repo!r})
from address_parser_spark.session import get_spark
spark = get_spark("scaling-{job}", master="local[{cores}]")
spark.sparkContext.setLogLevel("ERROR")
{body}
start = time.monotonic()
extra = measure() or {{}}
elapsed = time.monotonic() - start
print(json.dumps({{"cores": {cores}, "{unit}": {n}, "sec": round(elapsed, 2),
                   "{unit}_per_sec": round({n} / elapsed, 2), **extra}}))
spark.stop()
"""


@dataclass(frozen=True)
class Job:
    name: str       # the line's "job" value
    unit: str       # size key; the rate key is f"{unit}_per_sec"
    defaults: tuple[int, int, int, int]  # n, low, high, reps
    warm_min: int   # the warm-up corpus holds max(n // 16, warm_min) items
    gen: str        # generation body: writes {corpus} (and {warm})
    run: str        # run body: warms up, then defines measure()


_ER_GEN = """
from address_parser_spark.gazetteer import synth_gazetteer
from address_parser_spark.sources.pages import synth_pages_spark
gaz = synth_gazetteer()
synth_pages_spark(spark, gaz, {n}, partitions=64).write.mode("overwrite").parquet({corpus!r})
synth_pages_spark(spark, gaz, {warm_n}, partitions=16).write.mode("overwrite").parquet({warm!r})
"""

_ER_RUN = """
from address_parser_spark.gazetteer import synth_gazetteer
from address_parser_spark.plans.pipeline import run_pipeline
gaz = synth_gazetteer()
run_pipeline(spark, spark.read.parquet({warm!r}), gaz).write.format("noop").mode("overwrite").save()
pages = spark.read.parquet({corpus!r})

def measure():
    run_pipeline(spark, pages, gaz).write.format("noop").mode("overwrite").save()
"""

# The graph is pure column arithmetic over ``spark.range`` (no Python on
# the data path, no RNG), a mix of the shapes tests/test_cluster.py pins:
# chains of 1024 nodes (the round-count adversary), stars of 8192 leaves
# (the skew case: one hub key dominates both star steps' groupBy) and blob
# blocks of 64 nodes with 96 hash-derived edges each (the bulk case). Node-id
# spaces are disjoint (offsets 0 / 2^40 / 2^41).
_CC_GEN = """
from pyspark.sql import functions as F

n_edges = {n}
n_chain = n_edges // 4
n_star = n_edges // 4
n_blob = n_edges - n_chain - n_star

CL, SL, BN, BE = 1024, 8192, 64, 96  # chain nodes, star leaves, blob nodes, blob edges
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
chain.unionAll(star).unionAll(blob).write.mode("overwrite").parquet({corpus!r})
"""

_CC_RUN = """
from address_parser_spark.operators.cluster import connected_components
edges = spark.read.parquet({corpus!r})
connected_components(edges.limit(200_000)).write.format("noop").mode("overwrite").save()

def measure():
    rounds = []

    def count_round(df, it):
        rounds.append(it)
        return df.localCheckpoint(eager=True)

    connected_components(edges, checkpoint_fn=count_round).write.format(
        "noop").mode("overwrite").save()
    return {{"cc_rounds": len(rounds)}}
"""

_DEDUP_GEN = """
from address_parser_spark.sources.documents import synth_documents_spark
synth_documents_spark(spark, {n}, partitions=64).write.mode("overwrite").parquet({corpus!r})
synth_documents_spark(spark, {warm_n}, partitions=16).write.mode("overwrite").parquet({warm!r})
"""

_DEDUP_RUN = """
from address_parser_spark.operators.dedup import (
    exact_duplicates, minhash_band_pairs, ngram_jaccard_pairs,
)

def sweep(docs):
    for df in (
        exact_duplicates(docs),
        minhash_band_pairs(docs, fast_hash=True),
        ngram_jaccard_pairs(docs, threshold=0.5, fast_hash=True),
    ):
        df.write.format("noop").mode("overwrite").save()

sweep(spark.read.parquet({warm!r}))
docs = spark.read.parquet({corpus!r})

def measure():
    sweep(docs)
"""

JOBS = {
    "er": Job("er_pipeline", "pages", (150000, 8, 32, 2), 256, _ER_GEN, _ER_RUN),
    "cc": Job("connected_components", "edges", (4_000_000, 4, 16, 2), 0, _CC_GEN, _CC_RUN),
    "dedup": Job("dedup_sweep", "docs", (200000, 4, 16, 2), 512, _DEDUP_GEN, _DEDUP_RUN),
}


def campaign(key: str, n: int, low: int, high: int, reps: int) -> dict:
    """The protocol above for one job; returns the campaign's JSON line."""
    job = JOBS[key]
    rate = f"{job.unit}_per_sec"
    with tempfile.TemporaryDirectory(prefix=f"scaling_{key}_") as tmp:
        params = {"repo": str(REPO), "n": n, "corpus": f"{tmp}/corpus",
                  "warm": f"{tmp}/warm", "warm_n": max(n // 16, job.warm_min)}
        subprocess.run(
            [sys.executable, "-c", _GEN.format(body=job.gen.format(**params), **params)],
            check=True, capture_output=True, text=True, timeout=6000,
        )
        body = job.run.format(**params)
        raw: dict[int, list[dict]] = {low: [], high: []}
        for _ in range(reps):
            for cores in (low, high):
                script = _RUN.format(body=body, job=key, cores=cores, unit=job.unit, **params)
                out = subprocess.run(
                    ["taskset", "-c", f"0-{cores - 1}", sys.executable, "-c", script],
                    capture_output=True, text=True, timeout=6000,
                )
                lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
                if not lines:
                    raise RuntimeError(f"{cores}-core run failed:\n{out.stderr[-2000:]}")
                raw[cores].append(json.loads(lines[-1]))

    best = {c: max(v, key=lambda r: r[rate]) for c, v in raw.items()}
    factor = high / low
    efficiency = best[high][rate] / (factor * best[low][rate])
    line = {
        "job": job.name,
        job.unit: n,
        "low": best[low],
        "high": best[high],
        "all_reps": {str(k): [r[rate] for r in v] for k, v in raw.items()},
    }
    if key == "cc":
        line["rounds"] = {str(k): [r["cc_rounds"] for r in v] for k, v in raw.items()}
    return {**line, "scale_factor": factor, "scaling_efficiency": round(efficiency, 3),
            "meets_0_8": efficiency >= 0.8}


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in JOBS:
        sys.exit("usage: python scripts/scaling_bench.py {er,cc,dedup} "
                 "[n] [low_cores] [high_cores] [reps]")
    key = sys.argv[1]
    args = [int(a) for a in sys.argv[2:6]]
    n, low, high, reps = args + list(JOBS[key].defaults[len(args):])
    print(json.dumps(campaign(key, n, low, high, reps)))


if __name__ == "__main__":
    main()
