"""Host readings from /proc: process-tree CPU, steal, load.

``tree_cpu_s`` sums user+system time of this process and every live
descendant (the Spark JVM, the Python worker daemon and its forked
workers), including time of children they already reaped.  Steal and load
are recorded beside each run so that a noisy run can be identified later;
they are never gated on.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces: fields start after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def _procs() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, utime+stime+cutime+cstime ticks)."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = (int(st[1]), sum(int(x) for x in st[11:15]))
    return out


def _tree(procs: dict, root: int) -> set[int]:
    keep = {root}
    changed = True
    while changed:
        changed = False
        for pid, (pp, _) in procs.items():
            if pp in keep and pid not in keep:
                keep.add(pid)
                changed = True
    return keep


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds of root and its live descendants, including what they
    reaped from exited children."""
    procs = _procs()
    root = os.getpid() if root is None else root
    return sum(procs[p][1] for p in _tree(procs, root) if p in procs) / _TICK


def descendant_pids(root: int | None = None) -> set[int]:
    root = os.getpid() if root is None else root
    return _tree(_procs(), root) - {root}


def cpu_jiffies() -> list[int]:
    """user nice system idle iowait irq softirq steal, host-wide."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_pct(j0: list[int], j1: list[int]) -> float:
    d = [b - a for a, b in zip(j0, j1)]
    return 100.0 * d[7] / max(sum(d), 1)


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])
