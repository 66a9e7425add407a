"""Process-tree CPU and memory, and machine-wide noise diagnostics, read
from /proc (Linux only).

The tree is the benchmark's own process and every descendant: the
Spark JVM and the Python workers it forks.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int):
    """Fields of /proc/<pid>/stat after the command name, or None when
    the process has gone."""
    try:
        with open("/proc/%d/stat" % pid) as fh:
            data = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; it ends at the last ')'
    return data[data.rindex(")") + 2:].split()


def tree_pids(root: int) -> list:
    """``root`` and all its live descendants."""
    children = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu(root: int) -> dict:
    """pid -> user+system CPU seconds, including reaped children, for
    every process of the tree. A worker that exits is folded into its
    parent's children-time once reaped, so summing the deltas between
    two snapshots counts it."""
    out = {}
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # utime stime cutime cstime are fields 14-17 of stat
            out[pid] = sum(int(x) for x in f[11:15]) / _TICK
    return out


def cpu_delta(before: dict, after: dict) -> float:
    return sum(v - before.get(pid, 0.0) for pid, v in after.items())


def reset_peak_rss(root: int) -> None:
    """Reset every tree process's VmHWM to its current RSS."""
    for pid in tree_pids(root):
        try:
            with open("/proc/%d/clear_refs" % pid, "w") as fh:
                fh.write("5")
        except OSError:
            pass


def peak_rss_mb(root: int) -> float:
    """Sum of VmHWM over the tree: the peak resident memory since the
    last reset_peak_rss, summed per process."""
    total_kb = 0
    for pid in tree_pids(root):
        try:
            with open("/proc/%d/status" % pid) as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0


def machine_cpu() -> tuple:
    """(user+nice, system+irq+softirq) jiffies from /proc/stat. A copy
    of ``_machine_cpu`` in the repository's bench.py, the one definition
    of its storm detector's split: keep the two in step."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    return int(f[1]) + int(f[2]), int(f[3]) + int(f[6]) + int(f[7])


def kernel_share(before: tuple, after: tuple) -> float:
    """Machine-wide system-time share of busy CPU between two
    machine_cpu() snapshots."""
    du, ds = after[0] - before[0], after[1] - before[1]
    return ds / (du + ds) if du + ds > 0 else 0.0


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])
