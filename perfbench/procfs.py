"""Resource accounting for the benchmark's own process tree, read from /proc.

The tree is this Python driver, the JVM it launches and the Python worker
daemon and workers the JVM forks. CPU time of a process that exits inside
the tree is folded into its parent's cutime/cstime once the parent reaps it,
so summing utime+stime+cutime+cstime over the live tree keeps it.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces or parentheses: split after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """`root` and every live descendant."""
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


def tree_cpu_s(root: int) -> float:
    """utime+stime+cutime+cstime summed over the tree, in seconds."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def tree_rss_mb(root: int) -> float:
    """Resident memory of the tree: the sum of each process's PSS, which
    splits a page shared by n processes n ways. Python workers are forked
    from a daemon that preloads numpy/pandas/pyarrow; summing their plain
    RSS would count those shared pages once per live worker."""
    kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb * 1024 / 1e6


class PeakRss:
    """Samples the tree's resident memory on a background thread; `peak_mb`
    is the largest value seen between start() and stop()."""

    def __init__(self, root: int, interval_s: float = 0.1) -> None:
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            self._stop.wait(self.interval_s)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
        return self.peak_mb


def host_probe_s(gemms: int = 300, n: int = 256) -> float:
    """Seconds for a fixed number of single-threaded float32 GEMMs in this
    process: a host-speed fingerprint recorded beside each run, never a
    metric."""
    import numpy as np

    a = np.random.default_rng(0).random((n, n), dtype=np.float32)
    t0 = time.perf_counter()
    for _ in range(gemms):
        a @ a
    return time.perf_counter() - t0
