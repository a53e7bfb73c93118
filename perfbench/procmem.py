"""Resident memory and CPU time of this process and every descendant (the
Spark JVM and its Python workers), read from /proc. The peak RSS is
sampled by a background thread."""

from __future__ import annotations

import os
import threading


def _tree(root: int) -> tuple[int, float]:
    """(RSS bytes, CPU seconds) summed over `root` and its descendants.
    CPU counts user + system time, plus that of reaped children (Spark's
    short-lived Python workers). The guest kernel books time the hypervisor
    steals as steal, not to the process, so when other tenants take the
    cores CPU time moves far less than wall time."""
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    cpu: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{name}/statm") as fh:
                resident = int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        # the command name may hold spaces: fields resume after its ')'
        fields = stat[stat.rindex(")") + 2 :].split()
        parent[int(name)] = int(fields[1])
        rss[int(name)] = resident * page
        cpu[int(name)] = sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, ticks, stack = 0, 0, [root]
    while stack:
        pid = stack.pop()
        total += rss.get(pid, 0)
        ticks += cpu.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total, ticks / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants."""
    return _tree(os.getpid())[1]


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's vCPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


class PeakRss:
    """Context manager; `.peak_mb` holds the peak after exit."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak_mb = max(self.peak_mb, _tree(me)[0] / 1e6)
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
