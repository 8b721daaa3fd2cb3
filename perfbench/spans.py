"""Spans around layer calls, and the Spark event-log reader that attributes
task metrics to them.

Each span runs its Spark jobs under its own job group, so every
``SparkListenerTaskEnd`` in the event log can be charged to exactly one span
through the job that ran it. Spans stay in memory until the run ends; the
event log is read once, after the session has stopped and flushed it.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, fields
from pathlib import Path


def event_log_confs(log_dir: Path) -> dict[str, str]:
    """Confs that make a session write an event log the reader can parse. The
    log is not compressed: Spark 4 would use zstd, which Python cannot read
    without a module that is not installed."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": log_dir.resolve().as_uri(),
    }


class Tracer:
    """Records spans (name, start, end, parent, run id) and sets one Spark job
    group per span, restoring the enclosing span's group on exit."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.run_id = "-"
        self._stack: list[int] = []

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "group": f"perfbench/{sid}/{name}",
            "start": time.monotonic(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]] if self._stack else None)


@dataclass
class TaskTotals:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0

    def add(self, other: "TaskTotals") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


def event_files(log_dir: Path) -> list[Path]:
    """The event-log files under ``log_dir`` in write order.

    Handles both layouts: one file per application (``local-<id>``, or
    ``.inprogress`` while running), and Spark 4's rolling layout, a
    directory ``eventlog_v2_<app>`` holding ``events_<n>_<app>`` parts."""
    out: list[Path] = []
    for entry in sorted(log_dir.iterdir()):
        if entry.is_dir() and entry.name.startswith("eventlog_v2_"):
            parts = [p for p in entry.iterdir() if p.name.startswith("events_")]
            out.extend(sorted(parts, key=lambda p: int(p.name.split("_")[1])))
        elif entry.is_file() and not entry.name.startswith("."):
            out.append(entry)
    return out


_WANTED = ('{"Event":"SparkListenerJobStart"', '{"Event":"SparkListenerTaskEnd"')
_MB = float(1 << 20)


def _task_totals(metrics: dict) -> TaskTotals:
    sw = metrics.get("Shuffle Write Metrics") or {}
    return TaskTotals(
        tasks=1,
        run_s=metrics.get("Executor Run Time", 0) / 1e3,
        cpu_s=metrics.get("Executor CPU Time", 0) / 1e9,
        shuffle_write_mb=sw.get("Shuffle Bytes Written", 0) / _MB,
        spill_mb=metrics.get("Disk Bytes Spilled", 0) / _MB,
    )


def task_totals_by_group(log_dir: Path) -> dict[str | None, TaskTotals]:
    """Sum ``SparkListenerTaskEnd`` metrics per job group (``None`` for jobs
    run outside any group). A stage is charged to the first job that lists
    it: a stage that a later job reuses was already run and is skipped."""
    stage_group: dict[int, str | None] = {}
    totals: dict[str | None, TaskTotals] = {}
    for path in event_files(log_dir):
        with path.open(encoding="utf-8") as fh:
            for line in fh:
                head = line[:48].replace(" ", "")
                if not head.startswith(_WANTED):
                    continue
                event = json.loads(line)
                if event["Event"] == "SparkListenerJobStart":
                    group = (event.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in event.get("Stage IDs", ()):
                        stage_group.setdefault(sid, group)
                    continue
                metrics = event.get("Task Metrics")
                if not metrics:
                    continue
                group = stage_group.get(event["Stage ID"])
                totals.setdefault(group, TaskTotals()).add(_task_totals(metrics))
    return totals


def layer_walls(spans: list[dict]) -> dict[int, float]:
    """Self wall time per span: its duration minus its children's."""
    own = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            own[s["parent"]] -= s["end"] - s["start"]
    return own
