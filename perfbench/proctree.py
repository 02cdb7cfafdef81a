"""CPU and memory of this process and every process it started, from /proc.

CPU of a process tree is the sum over its live members of
``utime + stime + cutime + cstime``. The ``c*`` fields hold the CPU of
children already reaped by that member, so Python workers that
``pyspark.daemon`` forked, used and reaped between two readings still count.
A member that exits between two readings moves its total into its parent's
``c*`` fields, so the difference of two readings stays exact as long as
every exited process was reaped by a member of the tree.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
RSS_INTERVAL_S = 0.1


def _stat_fields(pid: int):
    """Fields of /proc/<pid>/stat after the ``comm`` field (index 0 is
    ``state``), or None when the process has gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    return raw[raw.rindex(b")") + 2:].split()


def is_running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    f = _stat_fields(pid)
    return f is not None and f[0] != b"Z"


def tree_pids() -> list:
    """This process and all its live descendants."""
    children: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of the tree."""
    ticks = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime are stat fields 14-17
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def tree_rss_mb() -> float:
    total = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f is not None:
            total += int(f[21]) * _PAGE  # rss (pages) is stat field 24
    return total / 2**20


class PeakRss:
    """Samples the tree's summed RSS on a thread while the ``with`` block
    runs, every ``RSS_INTERVAL_S``; ``peak_mb`` is the highest sample."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            if self._stop.wait(RSS_INTERVAL_S):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
        return False
