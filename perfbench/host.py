"""Host fingerprint and process-tree memory sampling."""

from __future__ import annotations

import os
import platform
import subprocess
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def _mem_total_mb() -> int:
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return -1


def _java_version() -> str:
    try:
        out = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    first = (out.stderr or out.stdout).splitlines()
    return first[0].strip() if first else "unknown"


def fingerprint(root: str, env: dict) -> dict:
    """Where and on what a record was measured. The engine's
    ``code_fingerprint`` hashes the engine sources, so two records with
    the same value ran the same engine code."""
    import pyspark

    from kafka_streams_learning_spark.gitinfo import code_fingerprint

    return {
        "nproc": os.cpu_count(),
        "cpu_model": _cpu_model(),
        "mem_total_mb": _mem_total_mb(),
        "spark_graft_cpus": env.get("SPARK_GRAFT_CPUS"),
        "spark_graft_driver_mem": env.get("SPARK_GRAFT_DRIVER_MEM"),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "java": _java_version(),
        "code_fingerprint": code_fingerprint(root),
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root_pid: int, exclude: set[int] = frozenset()) -> list[int]:
    """``root_pid`` and its descendants, skipping subtrees rooted in
    ``exclude``."""
    kids = _children()
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root_pid: int, exclude: set[int] = frozenset()) -> int:
    """Resident bytes of ``root_pid`` and all its descendants (the Spark
    JVM and its Python workers), skipping subtrees rooted in ``exclude``."""
    total = 0
    for pid in process_tree(root_pid, exclude):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * PAGE
        except OSError:
            continue
    return total


def wait_exited(pids: set[int], timeout_s: float) -> set[int]:
    """Wait until none of ``pids`` is alive; return those still alive
    at the timeout."""
    deadline = time.time() + timeout_s
    alive = set(pids)
    while alive and time.time() < deadline:
        alive = {p for p in alive if os.path.exists(f"/proc/{p}")}
        if alive:
            time.sleep(0.1)
    return alive


class PeakRss:
    """Background sampler of the process tree's peak resident memory."""

    def __init__(self, exclude: set[int], interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self.exclude = exclude
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.wait(self.interval_s):
            self.peak = max(self.peak, tree_rss_bytes(pid, self.exclude))

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
