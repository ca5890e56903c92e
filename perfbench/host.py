"""Process-tree CPU and memory from /proc, and an ambient snapshot.

The tree is this process, the Spark JVM it launched and the JVM's
Python workers. CPU per process is utime+stime+cutime+cstime, so a
worker that exited and was reaped still counts, through its parent.
Memory is the sum of proportional set sizes: Python workers are
forked from one daemon and share most of their pages with it, which a
sum of RSS would count once per worker.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces: fields resume after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> list[int]:
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
        todo += children.get(pid, [])
    return out


def cpu_seconds(root: int) -> float:
    total = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime: fields 14-17 of
            # /proc/<pid>/stat, 11-14 once pid and name are cut off
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def pss_bytes(root: int) -> int:
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class PeakMemory:
    """Samples the tree's summed PSS every `period` seconds until stopped."""

    def __init__(self, root: int, period: float = 0.5):
        self.peak = pss_bytes(root)
        self._root, self._period = root, period
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(self._period):
            self.peak = max(self.peak, pss_bytes(self._root))

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        return max(self.peak, pss_bytes(self._root))


def cpu_ticks() -> list[int]:
    """Host-wide jiffies: user nice system idle iowait irq softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d[:8]) if sum(d[:8]) else 0.0


def ambient() -> dict:
    """Load and memory at this instant, recorded with every run."""
    with open("/proc/loadavg") as f:
        load = f.read().split()
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, val = line.split(":")
            if key in ("MemTotal", "MemAvailable"):
                mem[key] = int(val.split()[0]) // 1024
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_1m": float(load[0]),
        "loadavg_5m": float(load[1]),
        "runnable": load[3],
        "mem_total_mb": mem.get("MemTotal"),
        "mem_available_mb": mem.get("MemAvailable"),
    }
