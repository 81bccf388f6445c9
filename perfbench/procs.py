"""The benchmark's processes: peak memory of the whole process tree
(this interpreter, the JVM and the Python workers) and a clean shutdown
of Spark that waits until every process the run started has ended."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time
from pathlib import Path


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            ppid = int((p / "stat").read_text().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(p.name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _process_kb(pid: int) -> int:
    """Resident memory of one process: the JVM's RSS, and the proportional
    set size of a Python process, because the Python workers fork from one
    daemon and RSS would count the pages they share once per worker
    (reading the JVM's PSS would walk its whole pre-touched heap)."""
    proc = Path(f"/proc/{pid}")
    if (proc / "comm").read_text().strip() == "java":
        return int((proc / "statm").read_text().split()[1]) * os.sysconf("SC_PAGE_SIZE") // 1024
    with open(proc / "smaps_rollup") as f:
        return next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:"))


def tree_rss_mb(pid: int) -> float:
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            total += _process_kb(p)
        except (OSError, StopIteration, ValueError, IndexError):
            continue       # the process ended while it was read
    return total / 2**10


class RssSampler:
    """Peak resident memory of this process, the JVM and the Python
    workers since the last :meth:`reset`, sampled from /proc every
    ``period`` seconds."""

    def __init__(self, period: float = 0.2) -> None:
        self._peak = 0.0
        self._period = period
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def peak_mb(self) -> float:
        now = tree_rss_mb(os.getpid())
        with self._lock:
            return max(self._peak, now)

    def reset(self) -> None:
        with self._lock:
            self._peak = 0.0

    def _run(self) -> None:
        while not self._stop.is_set():
            now = tree_rss_mb(os.getpid())
            with self._lock:
                self._peak = max(self._peak, now)
            self._stop.wait(self._period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def stop_spark(timeout: float = 60.0) -> None:
    """Stop the session and the JVM gateway, then wait until every
    process this run started has ended (killing stragglers)."""
    try:
        from pyspark import SparkContext
        from pyspark.sql import SparkSession
    except ImportError:
        return
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()     # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout)
    deadline = time.monotonic() + timeout
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
