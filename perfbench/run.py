"""Engine benchmark: one run of one workload.

    python3 perfbench/run.py --workload er_durable --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout of the engine. A run is a closed loop with
one client: a fresh process sets up a ``local[4]`` session, runs a cold job,
then warm jobs one after another for ``--seconds`` seconds, each on a corpus
drawn from a fresh seed derived from ``--seed``, and checks every job's
output. ``--trace 1`` instead alternates traced jobs, which call the engine
one layer at a time under Spark job groups with the event log on, with
untraced jobs, and reports per-layer metrics.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. Progress, the run
record (box, seeds, per-job walls, check results) and the layer table go to
standard error. Everything a run writes lives under ``.perfbench_work/`` in
the checkout and is removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
if str(HERE) not in sys.path:
    sys.path.insert(0, str(HERE))

from procmon import PeakRss, box_record, process_age_s, stop_descendants, tree_rss_bytes  # noqa: E402
from spans import Tracer, event_log_confs, layer_walls, task_totals_by_group  # noqa: E402

MASTER = "local[4]"
WORK_DIR = ".perfbench_work"

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "items_per_s": "1/s",
    "pairwise_f1": "ratio",
}
LAYERS = [
    "session", "gazetteer", "parse.extract", "parse.resolve", "pairs.keys",
    "pairs.edges", "cluster.cc", "pipeline.ward_map", "lineage.store", "sink",
    "dedup.exact", "dedup.minhash", "dedup.jaccard", "dedup.simhash",
    "textquality.fingerprints",
]
LAYER_TIMING = {
    "wall_s": "s", "task_run_s": "s", "task_cpu_s": "s", "py_wait_s": "s",
    "shuffle_write_mb": "MB", "spill_mb": "MB",
}
# Counted by the workloads from the layers' public outputs.
COUNTERS = {
    "gazetteer.nodes": "count",
    "gazetteer.state_mb": "MB",
    "parse.extract.pages": "count",
    "parse.extract.mentions": "count",
    "parse.extract.html_pages": "count",
    "parse.resolve.distinct_mentions": "count",
    "parse.resolve.distinct_ratio": "ratio",
    "parse.resolve.unresolved": "count",
    "pairs.edges.emitted": "count",
    "pairs.edges.canonical": "count",
    "pairs.edges.useful_ratio": "ratio",
    "pairs.edges.dropped_blocks": "count",
    "cluster.cc.rounds": "count",
    "cluster.cc.distributed": "bool",
    "lineage.store.bytes": "bytes",
    "dedup.jaccard.pairs": "count",
    "dedup.jaccard.planted_recall": "ratio",
}
# Derived from the spans and memory samples of the run. Peak RSS is a
# per-layer figure, not an end-to-end one: the JVM's heap growth under the
# session's 16g driver memory makes it vary by about 30% (IQR over median)
# between runs of one commit, more than an end-to-end bound may allow.
DERIVED = {
    "parse.resolve.self_s": "s",
    "session.rss_mb": "MB",
    "trace.peak_rss_mb": "MB",
    "trace.job_wall_s": "s",
    "trace.overhead_s": "s",
    "trace.coverage": "ratio",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{m}": u for layer in LAYERS for m, u in LAYER_TIMING.items()}
    return {**units, **COUNTERS, **DERIVED}


def log(msg: str) -> None:
    print(f"[perfbench {process_age_s():7.2f}s] {msg}", file=sys.stderr, flush=True)


class Run:
    """One benchmark run: its session, workload, jobs and tally."""

    def __init__(self, workload, seed: int, seconds: float, work: Path, trace: bool):
        from address_parser_spark.gazetteer import synth_gazetteer

        self.wl = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.trace = trace
        self.gaz = synth_gazetteer()
        self.attempted = 0
        self.failed = 0
        self.jobs: list[dict] = []
        self.spark = None
        self.tracer = None
        self.session_rss_mb = 0.0

    def start_session(self) -> float:
        """Set up the session; returns seconds since the process started.
        The kernel's start time has clock-tick resolution, so only the part
        before this call is read from it."""
        from address_parser_spark.session import get_spark

        age, start = process_age_s(), time.monotonic()
        confs = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'}"}
        if self.trace:
            (self.work / "eventlog").mkdir()
            confs.update(event_log_confs(self.work / "eventlog"))
        self.spark = get_spark("perfbench", master=MASTER, extra_confs=confs)
        setup_s = age + time.monotonic() - start
        self.session_rss_mb = tree_rss_bytes(os.getpid()) / (1 << 20)
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            self.tracer = Tracer(self.spark.sparkContext)
        return setup_s

    def stop_session(self) -> None:
        """Stop Spark, end the JVM and wait for every child process."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        try:
            self.spark.stop()
        finally:
            self.spark = None
            if gateway is not None:
                proc = getattr(gateway, "proc", None)
                gateway.shutdown()
                if proc is not None:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                    try:
                        proc.wait(timeout=60)
                    except Exception:
                        proc.kill()
                        proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
            killed = stop_descendants(os.getpid())
            if killed:
                log(f"killed leftover processes {killed}")

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def job(self, rep: int, traced: bool = False) -> dict:
        """Stage a fresh corpus, run one job (timed), check its output.
        Returns the job's record; it holds ``wall_s`` unless the job raised."""
        from workloads import corpus_seed

        scratch = self.work / f"job{rep}"
        record = {"rep": rep, "seed": corpus_seed(self.seed, rep), "traced": traced}
        self.jobs.append(record)
        self.attempted += 1
        try:
            with self._span("stage"):
                corpus = self.wl.stage(self.spark, self.gaz, record["seed"], scratch / "corpus")
            if traced:
                self.tracer.run_id = f"job{rep}"
                with self.tracer.span("job"):
                    start = time.monotonic()
                    out, counters = self.wl.traced(self.spark, self.gaz, corpus, scratch, self.tracer)
                    wall = time.monotonic() - start
                with self.tracer.span("counters"):
                    record["counters"] = counters()
            else:
                with self._span("cold" if rep == 0 else "untraced"):
                    start = time.monotonic()
                    out = self.wl.run(self.spark, self.gaz, corpus, scratch)
                    wall = time.monotonic() - start
            with self._span("check"):
                start = time.monotonic()
                outcome = self.wl.check(self.spark, self.gaz, corpus, out, full=rep == 0)
                record["check_s"] = time.monotonic() - start
        except Exception:
            self.failed += 1
            record["error"] = traceback.format_exc()
            log(f"job {rep} raised:\n{record['error']}")
            return record
        record.update(wall_s=wall, f1=outcome.f1, problems=outcome.problems)
        if outcome.problems:
            self.failed += 1
            log(f"job {rep} failed its checks: {outcome.problems}")
        shutil.rmtree(scratch, ignore_errors=True)
        log(f"job {rep} ({'traced' if traced else 'measured'}) {wall:.3f} s, "
            f"check {record['check_s']:.3f} s, F1 {outcome.f1:.4f}")
        return record


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def untraced_metrics(run: Run, setup_s: float) -> dict:
    cold = run.job(0)
    warm: list[float] = []
    start = time.monotonic()
    rep = 1
    while rep == 1 or time.monotonic() - start < run.seconds:
        rec = run.job(rep)
        if "wall_s" in rec:
            warm.append(rec["wall_s"])
        rep += 1
    return {
        "setup_s": setup_s,
        "cold_s": cold.get("wall_s", 0.0),
        "items_per_s": run.wl.items / _median(warm) if warm else 0.0,
        # the cold job's check is the full one (operators.eval on ER)
        "pairwise_f1": cold.get("f1", 0.0),
    }


def traced_metrics(run: Run, setup_s: float, rss: PeakRss) -> dict:
    run.job(0)  # the cold job, outside any layer span
    traced, untraced = [], []
    start = time.monotonic()
    rep = 1
    while rep == 1 or time.monotonic() - start < run.seconds:
        traced.append(run.job(rep, traced=True))
        untraced.append(run.job(rep + 1))
        rep += 2
    spans = run.tracer.spans
    run.stop_session()  # flushes the event log
    totals = task_totals_by_group(run.work / "eventlog")
    metrics = layer_metrics(spans, setup_s, totals,
                            [j for j in traced if "wall_s" in j],
                            [j["wall_s"] for j in untraced if "wall_s" in j])
    metrics["session.rss_mb"] = run.session_rss_mb
    metrics["trace.peak_rss_mb"] = rss.peak_mb
    return metrics


def _timing(wall: float, t) -> dict[str, float]:
    run_s = t.run_s if t else 0.0
    cpu_s = t.cpu_s if t else 0.0
    return {
        "wall_s": wall,
        "task_run_s": run_s,
        "task_cpu_s": cpu_s,
        "py_wait_s": run_s - cpu_s,
        "shuffle_write_mb": t.shuffle_write_mb if t else 0.0,
        "spill_mb": t.spill_mb if t else 0.0,
    }


def layer_metrics(spans: list[dict], setup_s: float, totals: dict,
                  traced_jobs: list[dict], untraced_walls: list[float]) -> dict:
    """Per-layer means over the traced jobs of a run. The session layer is
    set up once per run: its wall is the set-up time and its task metrics
    are those of the jobs run outside any job group (the warm-ups)."""
    metrics = dict.fromkeys(per_layer_units(), 0.0)
    metrics.update({f"session.{k}": v for k, v in _timing(setup_s, totals.get(None)).items()})
    runs = {f"job{j['rep']}" for j in traced_jobs}
    share = 1.0 / max(1, len(traced_jobs))
    own = layer_walls(spans)
    for s in spans:
        if s["name"] in LAYERS and s["run"] in runs:
            for k, v in _timing(own[s["id"]], totals.get(s["group"])).items():
                metrics[f"{s['name']}.{k}"] += v * share
    for j in traced_jobs:
        for k, v in j["counters"].items():
            metrics[k] += v * share
    # resolve_mentions re-extracts internally: its own share is resolve - extract
    metrics["parse.resolve.self_s"] = metrics["parse.resolve.wall_s"] - metrics["parse.extract.wall_s"]
    job_wall = _median([j["wall_s"] for j in traced_jobs])
    untraced = _median(untraced_walls)
    layer_sum = sum(metrics[f"{layer}.wall_s"] for layer in LAYERS[1:])
    metrics["trace.job_wall_s"] = job_wall
    metrics["trace.overhead_s"] = job_wall - untraced
    metrics["trace.coverage"] = layer_sum / untraced if untraced else 0.0
    return metrics


def layer_table(workload: str, metrics: dict) -> str:
    total = sum(metrics[f"{layer}.wall_s"] for layer in LAYERS[1:])
    lines = [
        f"per-layer metrics for {workload} (mean per traced job; session once per run)",
        f"{'layer':<26}{'wall_s':>9}{'share':>8}{'run_s':>9}{'cpu_s':>9}"
        f"{'py_wait_s':>10}{'shuf_w_mb':>10}{'spill_mb':>9}",
    ]
    for layer in LAYERS:
        m = {k: metrics[f"{layer}.{k}"] for k in LAYER_TIMING}
        share = f"{m['wall_s'] / total:8.1%}" if layer != "session" and total else f"{'-':>8}"
        lines.append(
            f"{layer:<26}{m['wall_s']:9.3f}{share}{m['task_run_s']:9.3f}{m['task_cpu_s']:9.3f}"
            f"{m['py_wait_s']:10.3f}{m['shuffle_write_mb']:10.3f}{m['spill_mb']:9.3f}"
        )
    lines += [f"  {name} = {metrics[name]:.6g}" for name in {**COUNTERS, **DERIVED}]
    return "\n".join(lines)


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="Run one workload of the engine benchmark.")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = Path.cwd()
    if not (root / "address_parser_spark" / "__init__.py").is_file():
        log(f"no engine package under {root}: run from the root of a checkout")
        return 2
    sys.path.insert(0, str(root))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
        return 2
    wl = WORKLOADS[args.workload]
    work = root / WORK_DIR / f"{wl.name}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    user_local_dirs = os.environ.get("SPARK_LOCAL_DIRS")
    # Python workers import the engine from the checkout; shuffle files,
    # temp files and the event log stay inside the work directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    record = {"workload": wl.name, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "master": MASTER, "box": box_record(user_local_dirs)}
    run = Run(wl, args.seed, args.seconds, work, bool(args.trace))
    try:
        with PeakRss(os.getpid()) as rss:
            try:
                setup_s = run.start_session()
                log(f"session up {setup_s:.3f} s after process start")
                if args.trace:
                    metrics = traced_metrics(run, setup_s, rss)
                    units = per_layer_units()
                    log(layer_table(wl.name, metrics))
                else:
                    metrics = untraced_metrics(run, setup_s)
                    units = END_TO_END
            finally:
                run.stop_session()
                log("session stopped")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (root / WORK_DIR).rmdir()
        except OSError:
            pass  # another run still uses it
    record.update(attempted=run.attempted, failed=run.failed, jobs=run.jobs,
                  session_rss_mb=run.session_rss_mb, peak_rss_mb=rss.peak_mb)
    log("run record " + json.dumps(record, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
