"""Peak memory and CPU time of this process and all its descendants (the
Spark driver JVM and its Python workers), read from /proc.

Each process counts its proportional set size (PSS): resident pages
shared by several processes are split between them.  Python workers
forked from one daemon, and a JVM child between fork and exec, would
otherwise count the same pages several times.
"""

from __future__ import annotations

import os
import threading
import time


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


_TICK = os.sysconf("SC_CLK_TCK")


def _tree(root: int) -> list[tuple[int, str, int]]:
    """(pid, command name, CPU ticks) of ``root`` and its descendants;
    the ticks are user + system time, reaped children's included."""
    procs: dict[int, tuple[int, str, int]] = {}  # pid -> (ppid, comm, ticks)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process exited between listdir and open
        fields = stat[stat.rindex(")") + 2:].split()
        procs[int(name)] = (int(fields[1]), stat[stat.index("(") + 1:stat.rindex(")")],
                            sum(int(x) for x in fields[11:15]))  # utime stime cutime cstime
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        _, comm, ticks = procs.get(pid, (0, "?", 0))
        out.append((pid, comm, ticks))
        todo.extend(children.get(pid, ()))
    return out


def tree_memory(root: int) -> tuple[int, dict[str, int]]:
    """Summed PSS of ``root`` and its descendants, and its split by
    command name."""
    total, split = 0, {}
    for pid, comm, _ in _tree(root):
        try:
            b = _pss_bytes(pid)
        except OSError:
            b = 0  # exited since the scan
        total += b
        split[comm] = split.get(comm, 0) + b
    return total, split


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by ``root`` (default: this
    process) and its descendants, reaped children included."""
    return sum(t for _, _, t in _tree(os.getpid() if root is None else root)) / _TICK


class TreeMeter:
    """Background sampler of the tree's peak memory (:func:`tree_memory`),
    and its CPU time on demand; use as a context manager."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_split: dict[str, int] = {}  # bytes by command name at the peak
        # CPU seconds the sampler itself has used: it grows with wall time,
        # so cpu_s() leaves it out of the tree's CPU time
        self.own_cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while True:
            t0 = time.thread_time()
            total, split = tree_memory(me)
            if total > self.peak_bytes:
                self.peak_bytes, self.peak_split = total, split
            self.own_cpu_s += time.thread_time() - t0
            if self._stop.wait(self.interval_s):
                return

    def cpu_s(self) -> float:
        """CPU seconds used so far by the process tree, the sampler's own
        excepted."""
        return tree_cpu_s() - self.own_cpu_s

    def __enter__(self) -> "TreeMeter":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
