"""Peak resident memory and CPU time of a process tree, from ``/proc``.

The benchmark's tree is its own Python process, the Spark driver JVM it
launches, the PySpark daemon under the JVM and the Python workers the
daemon forks.  RSS is summed over the tree on each sample; shared pages
of forked workers count once per process, as ``ps`` would show them.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    """Pids below ``root`` (excluding it), breadth first."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue  # exited between listing and reading
    return total


class PeakRss:
    """Background sampler of the summed RSS of this process's tree, every
    100 ms.  Use as a context manager; ``peak_bytes`` holds the largest
    sample."""

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(os.getpid()))
            if self._stop.wait(0.1):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(os.getpid()))


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and the tree below it, with
    what each process below ``root`` has reaped from its own children
    (the PySpark daemon reaps the workers it forked)."""
    own = os.times()
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        total += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return own.user + own.system + total / _TICK


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this VM, all CPUs."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / _TICK
