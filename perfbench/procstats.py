"""Process-tree resident memory sampler and a load reading.

``PeakRss`` samples the summed RSS of this process and all of its
descendants (the driver Python, the Spark JVM it launches and the Python
workers the JVM forks) from ``/proc`` on a background thread and keeps
the peak. Linux only; elsewhere it reports 0.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE") if hasattr(os, "sysconf") else 4096


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    kids = _children()
    out = [root]
    i = 0
    while i < len(out):
        out.extend(kids.get(out[i], ()))
        i += 1
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def load1() -> float:
    return os.getloadavg()[0]


class PeakRss:
    """Background sampler of the process tree's summed RSS."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self.peak_procs = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while True:
            self.sample(root)
            if self._stop.wait(self.interval_s):
                return

    def sample(self, root: int | None = None) -> None:
        if not os.path.isdir("/proc"):
            return
        pids = tree_pids(root or os.getpid())
        total = sum(rss_bytes(p) for p in pids)
        if total > self.peak:
            self.peak, self.peak_procs = total, len(pids)
        self.samples += 1

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)
