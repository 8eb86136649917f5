"""CPU and memory of the benchmark's process tree, read from ``/proc``.

The tree is the Python driver (this process), the JVM it launched and
the JVM's descendants (the PySpark worker daemon and its forked
workers).  CPU counts each live process's own user+system time plus the
time of children it has already reaped, so a worker that exits between
two snapshots is still counted, once, through its parent.
"""

from __future__ import annotations

import os
import threading
from typing import Dict, List, Tuple

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> Tuple[int, str, float]:
    """(ppid, comm, cpu seconds incl. reaped children) of ``pid``."""
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is field 3 (state): utime..cstime are fields 14..17
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    return int(fields[1]), comm, cpu


def _children() -> Dict[int, List[int]]:
    tree: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                ppid = _stat(int(name))[0]
            except (OSError, ValueError):
                continue  # exited while listing
            tree.setdefault(ppid, []).append(int(name))
    return tree


class ProcTree:
    """Snapshots of the driver's process tree, split by role."""

    def __init__(self) -> None:
        self.root = os.getpid()

    def pids(self) -> Dict[str, List[int]]:
        """Live pids by role: ``driver``, ``jvm`` and ``python_worker``
        (every descendant of the JVM)."""
        tree = _children()
        roles = {"driver": [self.root], "jvm": [], "python_worker": []}
        stack = [(c, "jvm") for c in tree.get(self.root, [])]
        while stack:
            pid, role = stack.pop()
            roles[role].append(pid)
            stack.extend((c, "python_worker") for c in tree.get(pid, []))
        return roles

    def cpu(self) -> Dict[str, float]:
        """CPU seconds per role, cumulative since each process started."""
        out = {}
        for role, pids in self.pids().items():
            total = 0.0
            for pid in pids:
                try:
                    total += _stat(pid)[2]
                except (OSError, ValueError):
                    pass  # exited: its time moves to the parent's reaped count
            out[role] = total
        return out

    def rss_mb(self) -> float:
        total = 0
        for pids in self.pids().values():
            for pid in pids:
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1])
                except (OSError, ValueError, IndexError):
                    pass
        return total * _PAGE / 2**20


class PeakRss:
    """Background sampler of the tree's summed RSS every 0.1 s; ``peak_mb``
    is the largest sample.  Use as a context manager."""

    def __init__(self, tree: ProcTree) -> None:
        self._tree = tree
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)
        self.peak_mb = 0.0

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self._tree.rss_mb())
            self._stop.wait(0.1)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def host_counters() -> Dict[str, float]:
    """Diagnostics only: cumulative ``/proc/stat`` steal jiffies and the
    1-minute load average.  Never used to discard or pick passes."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"steal_jiffies": int(cpu[8]), "loadavg_1m": load1}
