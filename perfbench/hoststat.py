"""Host and process-tree counters read from /proc.

The Spark JVM is a child of the benchmark process and the Python
workers are children of the JVM, so "the process tree" below is this
process and every live descendant."""

from __future__ import annotations

import os

_CLK = os.sysconf("SC_CLK_TCK")
_STAT_KEYS = ("user", "nice", "system", "idle", "iowait", "irq", "softirq",
              "steal", "guest", "guest_nice")


def _tree() -> dict[int, list[str]]:
    """pid -> /proc/<pid>/stat fields after the comm field, for the tree."""
    fields: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(d)
        fields[pid] = rest
        children.setdefault(int(rest[1]), []).append(pid)
    out, stack = {}, [os.getpid()]
    while stack:
        p = stack.pop()
        if p in fields:
            out[p] = fields[p]
        stack.extend(children.get(p, ()))
    return out


def tree_pids() -> list[int]:
    return sorted(_tree())


def tree_cpu_s() -> float:
    """utime+stime of the live tree plus cutime+cstime (reaped children,
    e.g. finished Python workers), in seconds."""
    total = 0
    for rest in _tree().values():
        total += sum(int(x) for x in rest[11:15])
    return total / _CLK


def tree_peak_rss_mb() -> float:
    """Sum over the live tree of each process's peak resident set."""
    kb = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024


def cpu_stat() -> dict[str, int]:
    """Cumulative jiffies of the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return dict(zip(_STAT_KEYS, (int(x) for x in parts[1:])))


def contention(s0: dict, s1: dict, tree_cpu_delta_s: float) -> dict[str, float]:
    """Shares of all host CPU time between two ``cpu_stat`` samples that
    went to hypervisor steal and to busy processes outside this tree."""
    total = sum(s1.values()) - sum(s0.values())
    if total <= 0:
        return {"steal_frac": 0.0, "busy_other_frac": 0.0}
    busy = sum(s1[k] - s0[k] for k in ("user", "nice", "system", "irq", "softirq"))
    other = max(0.0, busy - tree_cpu_delta_s * _CLK)
    return {
        "steal_frac": (s1["steal"] - s0["steal"]) / total,
        "busy_other_frac": other / total,
    }
