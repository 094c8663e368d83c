"""Linux /proc readings: CPU and peak memory of a process tree, and
host contention while a run measures.

Contention is read the way ``bench.py`` reads it: machine-wide busy and
steal jiffies from ``/proc/stat`` and the tree's own jiffies, so the
difference is CPU that other tenants used.
"""

from __future__ import annotations

import os

HZ = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live process whose ancestry reaches it."""
    parent: dict[int, int] = {}
    for ent in os.listdir("/proc"):
        if ent.isdigit():
            try:
                parent[int(ent)] = int(_stat_fields(int(ent))[1])
            except (OSError, IndexError, ValueError):
                continue
    out = []
    for pid in parent:
        p, seen = pid, set()
        while p > 1 and p not in seen:
            if p == root:
                out.append(pid)
                break
            seen.add(p)
            p = parent.get(p, 0)
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the live tree, including children each
    member has already reaped (Python workers, finished helpers)."""
    total = 0
    for pid in tree_pids(root):
        try:
            f = _stat_fields(pid)
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        except (OSError, IndexError, ValueError):
            continue
    return total / HZ


def tree_peak_rss_mb(root: int) -> float:
    """Sum of ``VmHWM`` (peak resident set) over the live tree."""
    kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except (OSError, ValueError):
            continue
    return kb / 1024


class Contention:
    """Other-tenant and steal cores between ``__init__`` and ``read``."""

    def __init__(self, root: int) -> None:
        self.root = root
        self._start = self._snapshot()
        self._load_start = os.getloadavg()

    def _snapshot(self) -> tuple[int, int, int]:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
        busy = sum(vals) - vals[3] - vals[4]
        steal = vals[7] if len(vals) > 7 else 0
        own = round(tree_cpu_s(self.root) * HZ)
        return busy, own, steal

    def read(self, elapsed_s: float) -> dict:
        busy, own, steal = self._snapshot()
        b0, o0, s0 = self._start
        elapsed_s = max(elapsed_s, 1e-9)
        return {
            "other_cpu_cores": round(max(0, (busy - b0) - (own - o0)) / HZ / elapsed_s, 2),
            "steal_cpu_cores": round(max(0, steal - s0) / HZ / elapsed_s, 2),
            "bench_cpu_cores": round((own - o0) / HZ / elapsed_s, 2),
            "load_avg_start": [round(x, 2) for x in self._load_start],
            "load_avg_end": [round(x, 2) for x in os.getloadavg()],
        }
