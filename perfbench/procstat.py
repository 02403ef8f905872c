"""CPU time and peak RSS of the Spark JVM and its Python workers, read
from ``/proc``.

The JVM is a child of the benchmark process; the PySpark daemon is a
child of the JVM and forks the workers.  A process's CPU counter here is
``utime + stime + cutime + cstime``: when a worker exits and is reaped,
its time moves into its parent's ``c*time``, so the sum over the live
process tree never loses work between two snapshots.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def _descendants(root: int) -> list[tuple[int, int]]:
    """(pid, depth) of every process under ``root`` (a child has depth 1)."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                parent[int(entry)] = int(st[1])
    tree, frontier = [], [(root, 0)]
    while frontier:
        p, depth = frontier.pop()
        kids = [(c, depth + 1) for c, pp in parent.items() if pp == p]
        tree.extend(kids)
        frontier.extend(kids)
    return tree


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def _unique_kb(pid: int) -> int:
    """Memory only this process maps (private clean + dirty pages)."""
    kb = 0
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith(("Private_Clean:", "Private_Dirty:")):
                    kb += int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return kb


class SparkProcesses:
    """The process tree under this benchmark process (JVM, PySpark daemon,
    workers), plus this process itself: driver-side Python work (collects,
    the driver union-find) is part of what a user waits for."""

    def __init__(self) -> None:
        self.me = os.getpid()

    def pids(self) -> list[int]:
        return [self.me, *(pid for pid, _ in _descendants(self.me))]

    def wait_gone(self, pids: list[int], timeout: float) -> None:
        """Wait until none of ``pids`` runs (a zombie has ended)."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            states = [_stat(p) for p in pids]
            if all(st is None or st[0] == "Z" for st in states):
                return
            time.sleep(0.1)
        raise TimeoutError(f"processes still running: {pids}")

    def cpu_s(self) -> float:
        total = 0
        for pid in self.pids():
            st = _stat(pid)
            if st is not None:
                # fields 14-17 of stat(5), counted after the command name
                total += sum(int(x) for x in st[11:15])
        return total / _TICK

    def peak_rss_mb(self) -> float:
        """Peak RSS (VmHWM) of this process, the JVM and the PySpark
        daemon, plus the memory unique to each Python worker the daemon
        forked, read now.  Forked workers share the daemon's pages, so a
        sum of their RSS would count those pages once per worker, and the
        number of idle forks varies from run to run."""
        kb = _status_kb(self.me, "VmHWM")
        for pid, depth in _descendants(self.me):
            kb += _status_kb(pid, "VmHWM") if depth <= 2 else _unique_kb(pid)
        return kb / 1024.0
