"""CPU and memory of the benchmark's process tree, read from /proc.

The tree is this Python process (the Spark driver's Python side), the JVM
it launches, and the pyspark daemon with its forked workers.  CPU of a
process counts its own user+system time plus that of its reaped children,
so workers that exit between two readings are still counted (in their
parent's total).
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 1e6


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # The command name (field 2) may hold spaces; split after its ')'.
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int | None = None) -> list[int]:
    """The pids of ``root`` (default: this process) and all descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_s(pids) -> float:
    """User+system CPU seconds of ``pids``, including reaped children."""
    total = 0
    for pid in pids:
        fields = _stat(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 (1-based).
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            pass
    return total * _PAGE_MB


def python_workers(pids) -> list[int]:
    """The pyspark daemon and worker processes among ``pids``."""
    out = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
            out.append(pid)
    return out


class PeakRss:
    """Samples the tree's resident memory every ``interval`` seconds on a
    background thread and keeps the highest sum seen."""

    def __init__(self, interval: float = 0.1, rescan: float = 1.0):
        self.interval, self.rescan = interval, rescan
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        pids, scanned = tree(), time.monotonic()
        while not self._stop.is_set():
            if time.monotonic() - scanned > self.rescan:
                pids, scanned = tree(), time.monotonic()
            self.peak_mb = max(self.peak_mb, rss_mb(pids))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, rss_mb(tree()))
