"""Load stamps for a run: core count, load average, the /proc/stat busy
fraction over a window, and the peak resident memory of a process tree
over a measured phase.
A run on a loaded box is then visible in its own output."""

from __future__ import annotations

import os
import threading


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_jiffies() -> tuple[int, int]:
    """(busy, total) jiffies from the aggregate cpu line of /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)  # idle + iowait
    return sum(vals) - idle, sum(vals)


def busy_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def loadavg_1m() -> float:
    return os.getloadavg()[0]


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                # the comm field may hold spaces; ppid follows its ')'
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == pid:
            out.append(int(entry))
    return out


def _tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        if p not in out:
            out.append(p)
            stack.extend(_children(p))
    return out


class PeakRss:
    """Peak resident memory (VmRSS) of this process plus the descendants
    alive when the context opens, sampled every ``interval`` seconds while
    it is open. For the benchmark's worker those are the Python driver and
    its JVM. Commands the JVM forks while the context is open are left out:
    between fork and exec each one reports the JVM's whole resident set.
    The set-up before the context (data generation, warm-up) and the checks
    after it are not covered, except for what the JVM still holds."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self._pids: list[int] = []
        self._peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, name="rss-sampler")

    def _rss_kb(self) -> int:
        return sum(_status_kb(p, "VmRSS") for p in self._pids)

    def _sample(self) -> None:
        while True:
            self._peak_kb = max(self._peak_kb, self._rss_kb())
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._pids = _tree(os.getpid())
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._peak_kb = max(self._peak_kb, self._rss_kb())

    @property
    def mb(self) -> float:
        return self._peak_kb / 1024.0
