"""Run the benchmark over several seeds and report each end-to-end metric's
median and quartile spread (IQR as a share of the median) per workload.

    python3 perfbench/spread.py --seeds 1-10 [--workload er_durable ...] [--trace 0]

Run from the root of a checkout. Reads BENCHMARK.json for the workloads,
run length and bounds; prints one table per workload and, as the last line,
a JSON summary. Runs are sequential: each one is a fresh process.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def seeds_arg(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> tuple[float, float]:
    """(median, IQR / median) as statistics.quantiles(n=4) gives them."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    bench = json.loads(Path("BENCHMARK.json").read_text())
    p = argparse.ArgumentParser(description="Seed spread of the engine benchmark.")
    p.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    p.add_argument("--workload", action="append")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    summary = {}
    for wl in workloads:
        values: dict[str, list[float]] = {}
        failed = attempted = 0
        for seed in args.seeds:
            cmd = [*bench["command"], "--workload", wl, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                                  text=True, check=False)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode or not lines:
                print(f"{wl} seed {seed}: exit {proc.returncode}, no result", file=sys.stderr)
                failed += 1
                continue
            result = json.loads(lines[-1])
            attempted += result["attempted"]
            failed += result["failed"]
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(f"{wl} seed {seed}: " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()
                if k in bounds or args.trace), file=sys.stderr, flush=True)
        rows = {}
        print(f"\n{wl}: {len(args.seeds)} seeds, {attempted} jobs, {failed} failed")
        for name, vals in values.items():
            if args.trace == 0 or name.endswith("wall_s"):
                med, rel = spread(vals)
                bound = bounds.get(name)
                rows[name] = {"median": med, "iqr_rel": rel, "bound": bound, "values": vals}
                mark = "" if bound is None else (
                    "ok" if rel < bound / 3 else "within bound" if rel <= bound else "OVER BOUND")
                print(f"  {name:<32} median {med:12.4f} {units.get(name, ''):<6} iqr/median {rel:7.2%}  "
                      f"bound {bound if bound is not None else '-'} {mark}")
        summary[wl] = {"failed": failed, "attempted": attempted, "metrics": rows}
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
