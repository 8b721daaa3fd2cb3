"""Smoke tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Run from the root of a checkout. The workload tests start a local Spark
session per run at a tiny corpus size; the rest need no Spark.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
from pathlib import Path

import pytest

BENCH_DIR = Path(__file__).resolve().parents[1]
ROOT = BENCH_DIR.parent
sys.path.insert(0, str(BENCH_DIR))

import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
RECORDED_LOG = BENCH_DIR / "tests" / "data" / "eventlog"


def _bench() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def test_names_follow_the_rule_and_match_the_script():
    bench = _bench()
    names = [w["name"] for w in bench["workloads"]]
    names += [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += list(workloads.WORKLOADS)
    assert all(NAME.fullmatch(n) for n in names), [n for n in names if not NAME.fullmatch(n)]
    metric_names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(metric_names) == len(set(metric_names))
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)
    assert len(bench["per_layer"]) <= 128
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_event_log_reader_sums_task_metrics_per_job_group():
    totals = spans.task_totals_by_group(RECORDED_LOG)
    layer = totals["perfbench/0/dedup.jaccard"]
    assert layer.tasks > 0 and layer.run_s > 0 and layer.cpu_s > 0
    assert layer.shuffle_write_mb > 0
    assert None in totals  # the session's warm-up jobs run outside any group
    assert all(t.run_s >= 0 and t.spill_mb >= 0 for t in totals.values())


def test_event_files_follow_the_rolling_part_order(tmp_path):
    rolled = tmp_path / "eventlog_v2_local-1"
    rolled.mkdir()
    for n in (10, 2, 1):
        (rolled / f"events_{n}_local-1").write_text("")
    (rolled / "appstatus_local-1").write_text("")
    (tmp_path / "local-2").write_text("")
    (tmp_path / ".local-2.crc").write_text("")
    got = [p.name for p in spans.event_files(tmp_path)]
    assert got == ["events_1_local-1", "events_2_local-1", "events_10_local-1", "local-2"]


def test_layer_walls_subtract_child_spans():
    tree = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 1, "start": 2.0, "end": 3.0},
    ]
    assert spans.layer_walls(tree) == {0: 7.0, 1: 2.0, 2: 1.0}


TINY = {"er_durable": 40, "er_web": 40, "er_mirror_html": 40, "dedup_docs": 300}


@pytest.mark.parametrize("name,trace", [
    ("er_durable", 1), ("dedup_docs", 1), ("er_web", 0), ("er_mirror_html", 0),
])
def test_workload_runs_at_tiny_size(name, trace, monkeypatch, capsys):
    wl = workloads.WORKLOADS[name]
    monkeypatch.setattr(wl, "items", TINY[name])
    if getattr(wl, "templates", 0):
        monkeypatch.setattr(wl, "templates", 8)
    for var in ("PYTHONPATH", "SPARK_LOCAL_DIRS", "TMPDIR"):  # main() sets them
        if var in os.environ:
            monkeypatch.setenv(var, os.environ[var])
        else:
            monkeypatch.delenv(var, raising=False)
    monkeypatch.chdir(ROOT)
    assert run.main(["--workload", name, "--seed", "3", "--seconds", "0",
                     "--trace", str(trace)]) == 0
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    expected = run.per_layer_units() if trace else run.END_TO_END
    assert set(result["metrics"]) == set(expected)
    values = {k: m["value"] for k, m in result["metrics"].items()}
    if trace:
        assert values["session.wall_s"] > 0 and values["trace.coverage"] > 0
        first = "parse.extract" if name.startswith("er_") else "dedup.exact"
        assert values[f"{first}.wall_s"] > 0 and values[f"{first}.task_run_s"] > 0
    else:
        assert all(values[k] > 0 for k in run.END_TO_END)
    assert not (ROOT / run.WORK_DIR).exists() or not any((ROOT / run.WORK_DIR).iterdir())
    shutil.rmtree(ROOT / run.WORK_DIR, ignore_errors=True)
