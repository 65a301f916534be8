"""CPU time and resident memory of this process and all its descendants,
read from /proc (psutil is not assumed).

The tree is the benchmark's Python process, the JVM it launches through
spark-submit, and the Python daemon and workers the JVM forks.  Children
that already exited are folded into their parent's cutime/cstime once
reaped, so the CPU sum stays monotone across worker restarts.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces or parens: fields start after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every live descendant."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int] | None = None) -> float:
    """utime + stime + reaped children's time, summed over the tree."""
    total = 0
    for pid in pids or descendants():
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def rss_mb(pids: list[int] | None = None) -> float:
    total = 0
    for pid in pids or descendants():
        st = _stat(pid)
        if st is not None:
            total += int(st[21])
    return total * _PAGE / 2**20


class PeakRss:
    """Background sampler of the tree's summed RSS; ``take()`` returns the
    peak since the previous ``take()`` and starts a new window."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            rss = rss_mb()
            with self._lock:
                self._peak = max(self._peak, rss)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def take(self) -> float:
        rss = rss_mb()
        with self._lock:
            peak, self._peak = max(self._peak, rss), rss
        return peak

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
