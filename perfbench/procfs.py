"""Host and process-tree accounting read from /proc (Linux only).

The process tree is this Python driver plus every descendant: the JVM that
spark-submit starts, the PySpark worker daemon and its forked workers.
"""

from __future__ import annotations

import os
import threading

_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; the fields after it are fixed
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of the tree, including reaped children."""
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICKS


def tree_rss_mb(root: int | None = None) -> float:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            pass
    return total * _PAGE / 2**20


def tree_pss_mb(root: int | None = None) -> float:
    """Proportional set size of the tree: shared pages (the forked Python
    workers share most of theirs) are split among the processes sharing
    them instead of being counted once per process."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total / 1024


class RssSampler:
    """Samples the tree's RSS and PSS on a background thread; ``peak()``
    and ``peak_pss()`` are the largest samples since ``reset()``."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self._interval = interval_s
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._peak = 0.0
        self._peak_pss = 0.0
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        n = 0
        while not self._stop.wait(self._interval):
            rss = tree_rss_mb()
            # PSS walks every process's page tables: sample it at 1/4 rate
            pss = tree_pss_mb() if n % 4 == 0 else 0.0
            n += 1
            with self._lock:
                self._peak = max(self._peak, rss)
                self._peak_pss = max(self._peak_pss, pss)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def reset(self) -> None:
        rss, pss = tree_rss_mb(), tree_pss_mb()
        with self._lock:
            self._peak, self._peak_pss = rss, pss

    def peak_pss(self) -> float:
        pss = tree_pss_mb()
        with self._lock:
            self._peak_pss = max(self._peak_pss, pss)
            return self._peak_pss

    def peak(self) -> float:
        rss = tree_rss_mb()
        with self._lock:
            self._peak = max(self._peak, rss)
            return self._peak


def cpu_stat() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return (v[7] if len(v) > 7 else 0), sum(v)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    return 100.0 * (after[0] - before[0]) / max(1, after[1] - before[1])
