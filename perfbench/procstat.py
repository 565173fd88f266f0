"""Process-tree CPU and memory, and host context, read from ``/proc``.

The process tree is this Python driver, the Spark JVM it launches and the
JVM's Python workers, all of which are descendants of ``os.getpid()``.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    # field 2 (comm) may hold spaces; everything after its ')' is fixed
    return raw[raw.rindex(")") + 2:].split()


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
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds of the tree: user + system of each live process plus
    those of its reaped children (fields 14-17 of /proc/<pid>/stat)."""
    ticks = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f is not None:
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def tree_rss_bytes() -> int:
    """Resident bytes of the tree. A child that still shares its parent's
    address space (the JVM spawns ``chmod`` and ``bash`` through vfork;
    until the exec, the child's vsize and rss are the parent's) is not
    counted again."""
    fields = {pid: f for pid in tree_pids()
              if (f := _stat_fields(pid)) is not None}
    total = 0
    for f in fields.values():
        parent = fields.get(int(f[1]))
        if parent is not None and parent[20:22] == f[20:22]:
            continue
        total += int(f[21]) * _PAGE
    return total


def steal_jiffies() -> int:
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return int(cpu[8]) if len(cpu) > 8 else 0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


class PeakRss:
    """Samples the tree's resident memory on a thread from ``start()``
    until ``stop()``."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval_s)

    def stop(self) -> int:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes())
        return self.peak
