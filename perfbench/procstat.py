"""Process-tree CPU, Python-worker memory and host-noise readings from /proc.

The benchmark's own process is the Spark driver; the JVM is its child and
the Python workers are children of the JVM (through the PySpark daemon).
CPU is summed over that whole tree, split into the three roles, so a run's
``cpu_s`` counts every core the work used, not only the driver's.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, float] | None:
    """(comm, ppid, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[1] = ppid; utime, stime, cutime, cstime are fields 14-17 of the
    # full line, i.e. 11-14 after the pid and comm are cut off
    ticks = sum(int(x) for x in fields[11:15])
    return comm, int(fields[1]), ticks / _TICK


def process_tree(root: int | None = None) -> dict[int, tuple[str, float]]:
    """Every live descendant of ``root`` (default: this process) with its
    role (``driver``, ``jvm`` or ``worker``) and CPU seconds so far."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    stats: dict[int, tuple[str, int, float]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
                children.setdefault(st[1], []).append(int(name))
    out: dict[int, tuple[str, float]] = {}
    if root not in stats:
        return out
    out[root] = ("driver", stats[root][2])
    stack = [(c, "jvm" if stats[c][0] == "java" else "other") for c in children.get(root, [])]
    while stack:
        pid, role = stack.pop()
        out[pid] = (role, stats[pid][2])
        # everything the JVM starts is the PySpark daemon or its workers
        kid_role = "worker" if role in ("jvm", "worker") else "other"
        stack.extend((c, kid_role) for c in children.get(pid, []))
    return out


def cpu_delta(before: dict[int, tuple[str, float]], after: dict[int, tuple[str, float]]) -> dict[str, float]:
    """CPU seconds each role used between two snapshots. A process born in
    between counts from zero; one that died is covered by its parent's
    reaped-children time."""
    out = {"driver": 0.0, "jvm": 0.0, "worker": 0.0, "other": 0.0}
    for pid, (role, cpu) in after.items():
        prev = before.get(pid)
        out[role] += cpu - (prev[1] if prev is not None else 0.0)
    return out


def worker_peak_rss_mb(tree: dict[int, tuple[str, float]]) -> float:
    """Largest VmHWM (peak resident set) among the live Python workers."""
    peak = 0
    for pid, (role, _) in tree.items():
        if role != "worker":
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
                        break
        except OSError:
            continue
    return peak / 1024.0


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostNoise:
    """Steal and iowait share of all CPU time over a window, plus the
    cgroup quota, affinity and load average at its start. These explain a
    slow window (a throttled or shared host); they are not the program's
    cost."""

    def __init__(self) -> None:
        self._t0 = _cpu_times()
        self.start = {
            "loadavg_1m": os.getloadavg()[0],
            "affinity": len(os.sched_getaffinity(0)),
            "cpu_quota": cgroup_cpu_quota(),
            "time": time.time(),
        }

    def finish(self) -> dict:
        t1 = _cpu_times()
        d = [b - a for a, b in zip(self._t0, t1)]
        total = sum(d[:8]) or 1  # user..steal; guest is already in user
        return {
            **self.start,
            "steal_frac": d[7] / total if len(d) > 7 else 0.0,
            "iowait_frac": d[4] / total,
            "loadavg_1m_end": os.getloadavg()[0],
        }


def cgroup_cpu_quota() -> float:
    """CPUs allowed by cgroup v2 ``cpu.max`` (or v1 cfs files); the
    affinity count when no quota is set."""
    try:
        with open("/sys/fs/cgroup/cpu.max") as f:
            quota, period = f.read().split()
        if quota != "max":
            return int(quota) / int(period)
    except (OSError, ValueError):
        try:
            with open("/sys/fs/cgroup/cpu/cpu.cfs_quota_us") as f:
                quota_us = int(f.read())
            with open("/sys/fs/cgroup/cpu/cpu.cfs_period_us") as f:
                period_us = int(f.read())
            if quota_us > 0:
                return quota_us / period_us
        except (OSError, ValueError):
            pass
    return float(len(os.sched_getaffinity(0)))
