"""CPU and resident memory of a process tree, read from /proc.

The tree is the benchmark's own process (the PySpark driver), its JVM and
the JVM's Python workers. CPU includes the reaped children of each live
process, so workers that exit mid-run still count.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """utime + stime (+ reaped children's) of every process in the tree."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields:
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / _TICK


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def tree_alive(root: int) -> list[int]:
    """Descendants of root (root excluded) still running."""
    return [p for p in tree_pids(root) if p != root]


class PeakRss:
    """Samples the tree's resident memory on a thread; `peak` is the max."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self.root))
