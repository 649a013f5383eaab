"""CPU time and resident memory of this process and everything it started.

Read from ``/proc``: the driver Python process, the JVM that PySpark
launches under it, and the ``pyspark.daemon`` / ``pyspark.worker``
processes the JVM forks. A process's ``cutime``/``cstime`` hold the CPU of
the children it has reaped, so summing ``utime + stime + cutime + cstime``
over the live tree counts exited workers exactly once.
"""

from __future__ import annotations

import os
import threading

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode()
    except OSError:  # the process exited between listing and reading
        return None
    # the command name (field 2) may hold spaces; fields resume after ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
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


def _cpu_s(st: list[str]) -> float:
    # fields 14-17 of /proc/<pid>/stat, counted from after the name
    return sum(int(x) for x in st[11:15]) / _CLK


def cpu_s(pids: list[int]) -> float:
    """CPU-seconds used so far by ``pids`` and the children they reaped."""
    return sum(_cpu_s(st) for st in map(_stat, pids) if st is not None)


def tree_cpu_s(root: int) -> float:
    """CPU-seconds used so far by ``root``'s tree, exited members included."""
    return cpu_s(descendants(root))


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm", "rb") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def python_workers(root: int) -> list[int]:
    """PySpark's Python daemon and the workers it forks (a forked worker
    keeps the daemon's command line)."""
    return [pid for pid in descendants(root)
            if "pyspark.daemon" in (cmd := _cmdline(pid))
            or "pyspark.worker" in cmd]


class PeakRss:
    """Samples the tree's summed RSS on a background thread until stopped;
    ``peak`` holds the largest sum seen."""

    def __init__(self, root: int, period_s: float = 0.25):
        self.root = root
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
