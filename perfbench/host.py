"""Host record and process-tree CPU time, read from ``/proc``."""

from __future__ import annotations

import os
import time


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def load_sample() -> dict:
    """``/proc/loadavg`` plus the cumulative steal/total CPU jiffies from
    ``/proc/stat`` (the sampling ``bench.py:loadavg_sample`` does); two
    samples give the steal share of the interval between them."""
    out: dict = {"t": time.time()}
    try:
        with open("/proc/loadavg") as fh:
            out["loadavg"] = [float(x) for x in fh.read().split()[:3]]
        with open("/proc/stat") as fh:
            cpu = [int(x) for x in fh.readline().split()[1:]]
        out["steal_jiffies"], out["cpu_jiffies"] = cpu[7], sum(cpu[:8])
    except (OSError, ValueError, IndexError):
        pass
    return out


def steal_share(before: dict, after: dict) -> float:
    """Share of the host's CPU time the hypervisor stole between samples."""
    d_cpu = after.get("cpu_jiffies", 0) - before.get("cpu_jiffies", 0)
    if d_cpu <= 0:
        return 0.0
    return (after["steal_jiffies"] - before["steal_jiffies"]) / d_cpu


def host_record(before: dict, after: dict) -> dict:
    return {
        "nproc": cpus(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_start": before.get("loadavg"),
        "loadavg_end": after.get("loadavg"),
        "steal_share": steal_share(before, after),
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(roots: list[int]) -> float:
    """CPU seconds (user + system) spent by ``roots`` and their descendants,
    including exited children their parents have reaped (``cutime``,
    ``cstime``)."""
    kids = _children()
    ticks, todo, seen = 0, list(roots), set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])
        except (OSError, ValueError, IndexError):
            pass
    return ticks / os.sysconf("SC_CLK_TCK")
