"""Process-tree probes read from /proc (psutil is not available).

The benchmark process starts the Spark driver JVM, which starts the
Python worker daemon and its forked workers; memory and CPU figures
are summed over that whole tree.
"""

from __future__ import annotations

import os
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # process ended between listing and reading
        return None
    # comm (field 2) may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds consumed so far by the live ``pids``."""
    ticks = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime are fields 14 and 15 of /proc/pid/stat
            ticks += int(fields[11]) + int(fields[12])
    return ticks / _CLK_TCK


def tree_cpu_s(root: int) -> float:
    return cpu_s(tree_pids(root))


class PeakRss:
    """Background sampler of the summed VmRSS of a process tree."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, rss_mb(tree_pids(self.root)))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def wait_children_gone(root: int, timeout_s: float) -> bool:
    """Wait until ``root`` has no live descendants; True if none remain."""
    deadline = time.monotonic() + timeout_s
    while True:
        alive = [p for p in tree_pids(root) if p != root and not _is_zombie(p)]
        if not alive or time.monotonic() >= deadline:
            return not alive
        time.sleep(0.1)


def _is_zombie(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is None or fields[0] == "Z"
