"""Process-tree memory sampling, process shutdown and the box record.

Everything is read from ``/proc`` (psutil is not a dependency). The tree is
this Python process plus every descendant: the JVM that PySpark launches and
the Python worker daemon and workers the JVM forks.
"""

from __future__ import annotations

import os
import signal
import threading
import time

PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")
CLOCK_TICKS = os.sysconf("SC_CLK_TCK")
# session.py puts spark.local.dir on /dev/shm only when at least this much
# of it is free and the caller did not choose a directory.
TMPFS_RULE_GIB = 16


def _stat_fields(pid: int | str) -> list[bytes]:
    """Fields of /proc/<pid>/stat after the command name (which may itself
    hold spaces or parentheses): index 0 is the state, 1 the parent pid."""
    with open(f"/proc/{pid}/stat", "rb") as fh:
        data = fh.read()
    return data[data.rindex(b")") + 2:].split()


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(name)[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for kid in children.get(todo.pop(), ()):
            out.append(kid)
            todo.append(kid)
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm", "rb") as fh:
                total += int(fh.read().split()[1]) * PAGE_BYTES
        except (OSError, IndexError, ValueError):
            continue
    return total


def process_age_s() -> float:
    """Seconds since this process was started (kernel start time, so it
    includes interpreter start-up and imports)."""
    start_ticks = int(_stat_fields("self")[19])
    with open("/proc/uptime", "rb") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / CLOCK_TICKS


class PeakRss:
    """Background sampler of the summed RSS of a process tree."""

    def __init__(self, root: int, interval_s: float = 0.25):
        self.root = root
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1 << 20)


def stop_descendants(root: int, timeout_s: float = 30.0) -> list[int]:
    """Wait for every descendant of ``root`` to exit; after ``timeout_s``
    send SIGKILL to the rest and wait again. Returns the pids that had to be
    killed."""
    deadline = time.monotonic() + timeout_s
    while (left := descendants(root)) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    kill_deadline = time.monotonic() + 10
    while descendants(root) and time.monotonic() < kill_deadline:
        time.sleep(0.1)
    # reap children that are ours so none stay behind as zombies
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass
    return left


def _meminfo_kib(key: str) -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def box_record(spark_local_dirs: str | None) -> dict:
    """What a run's numbers depend on. Numbers from boxes whose records
    differ are never compared."""
    import pyarrow
    import pyspark

    try:
        st = os.statvfs("/dev/shm")
        shm_free_gib = st.f_bavail * st.f_frsize / (1 << 30)
    except OSError:
        shm_free_gib = 0.0
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gib": round(_meminfo_kib("MemTotal") / (1 << 20), 2),
        "shm_free_gib": round(shm_free_gib, 2),
        "spark_local_dirs": spark_local_dirs,
        "spark_version": pyspark.__version__,
        "pyarrow_version": pyarrow.__version__,
        # The rule in session.get_spark: /dev/shm holds shuffle files when
        # it has TMPFS_RULE_GIB free; SPARK_LOCAL_DIRS overrides it anyway.
        "tmpfs_rule_fires": shm_free_gib >= TMPFS_RULE_GIB and not spark_local_dirs,
    }
