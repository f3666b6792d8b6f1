"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is this Python driver, the JVM it launched and the Python workers
the JVM forks. CPU time counts each live process's own time plus the time of
its children that already exited (``cutime``/``cstime``).
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
# RSS sampling period: short enough to see the heap's peak during a pass of
# several seconds, long enough that reading statm stays negligible.
_RSS_INTERVAL_S = 0.1
# Re-list the tree every this many samples (once a second): listing walks all
# of /proc, and Python workers live for a whole query.
_RSS_RELIST = 10


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # Fields after the parenthesised command name, which may contain spaces.
    return raw[raw.rindex(")") + 2 :].split()


def tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            f = _stat_fields(int(entry))
            if f is not None:
                parent[int(entry)] = int(f[1])
    out, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        out.extend(frontier)
    return out


def cpu_seconds(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5).
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the tree's summed RSS on a thread until ``stop``; the tree is
    re-listed every ``_RSS_RELIST`` samples so forked workers are seen."""

    def __init__(self, root: int):
        self._root = root
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.peak = 0

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        pids, n = tree(self._root), 0
        while True:
            self.peak = max(self.peak, rss_bytes(pids))
            if self._stop.wait(_RSS_INTERVAL_S):
                return
            n += 1
            if n % _RSS_RELIST == 0:
                pids = tree(self._root)
