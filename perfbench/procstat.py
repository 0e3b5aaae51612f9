"""Process-tree CPU and memory, and box state, read from ``/proc``.

The tree is this Python process, the Spark JVM it launched, and the
JVM's Python daemon and workers.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def tree(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants."""
    pids = [root or os.getpid()]
    i = 0
    while i < len(pids):
        pids.extend(_children(pids[i]))
        i += 1
    return pids


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def cpu_seconds(pids: list[int]) -> float:
    """utime+stime, plus that of reaped children, summed over ``pids``."""
    total = 0
    for pid in pids:
        f = _stat(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_cpu_seconds() -> float:
    return cpu_seconds(tree())


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the tree's summed RSS on a thread; ``peak`` is the max."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes(tree()))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, rss_bytes(tree()))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_line() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class BoxState:
    """``nproc``, load average and the steal share of all CPU time
    between construction and :meth:`read`."""

    def __init__(self):
        self._start = _cpu_line()

    def read(self) -> dict:
        end = _cpu_line()
        delta = [b - a for a, b in zip(self._start, end)]
        total = sum(delta[:8]) or 1  # user..steal; guest is inside user
        with open("/proc/loadavg") as f:
            load = [float(x) for x in f.read().split()[:3]]
        return {
            "nproc": nproc(),
            "loadavg": load,
            "steal_share": round(delta[7] / total, 5) if len(delta) > 7 else None,
        }
