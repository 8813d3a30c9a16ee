"""Process-tree CPU and memory from ``/proc`` (psutil is not available).

The tree is rooted at the benchmark process, so it covers the Spark JVM it
launches and the Python workers that the JVM forks. CPU time counts every
live process in the tree plus the children each has already reaped
(``cutime``/``cstime``), so a worker that exits between two readings is
still counted, in its parent.

Memory is the proportional set size (PSS): a page shared by n processes
counts 1/n in each. Python workers are forked from one daemon and share
most of their pages with it, so summing their RSS would count the same
memory once per idle worker; the summed PSS is the tree's footprint.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:            # the process ended while the tree was read
        return None
    # comm (field 2) may hold spaces and parentheses; fields after it are
    # plain, so split after the last ')'. Index 0 is field 3 (state).
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by the tree, reaped
    children included."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are stat fields 14-17
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def tree_pss_bytes(root: int | None = None) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:        # the process ended while the tree was read
            pass
    return total


class MemSampler:
    """Samples the tree's summed PSS on a background thread; ``peak`` is
    the largest sum seen while the ``with`` block ran."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, tree_pss_bytes())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "MemSampler":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_pss_bytes())
