"""Process-tree and host readings from /proc (Linux only).

The benchmark's Python driver is the root of its process tree: the
Spark JVM is its child and the Python workers are the JVM's children
(the pyspark daemon and the workers it forks).
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if
    the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is in parentheses and may itself hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """Live processes below `root` (root excluded)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out: list[int] = []
    todo = [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used by the live process tree of
    this process, itself included. Reaped children count through their
    parent's cutime/cstime, so each CPU second is counted once."""
    root = os.getpid()
    total = 0
    for pid in [root, *descendants(root)]:
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            total += sum(int(v) for v in fields[11:15])
    return total / _TICK


def running(pid: int) -> bool:
    """True while the process exists and is not a zombie."""
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def python_workers() -> list[int]:
    """Spark's Python worker processes under this process."""
    return [p for p in descendants(os.getpid())
            if any(m in _cmdline(p) for m in ("pyspark.daemon", "pyspark.worker"))]


def peak_worker_rss_mb() -> float:
    """Largest peak RSS (VmHWM) among the live Python workers, MiB."""
    return max((_vm_hwm_kb(p) for p in python_workers()), default=0) / 1024


def host_reading() -> dict:
    """Load averages, cumulative CPU pressure stall (microseconds) and
    CPU time stolen by the hypervisor (ticks, all CPUs); context for
    reading a run's numbers, not a gate."""
    with open("/proc/loadavg") as f:
        reading = {"t": time.time(), "load1": float(f.read().split()[0])}
    with open("/proc/stat") as f:
        # cpu user nice system idle iowait irq softirq steal ...
        reading["steal_ticks"] = int(f.readline().split()[8])
    try:
        with open("/proc/pressure/cpu") as f:
            for line in f:
                parts = line.split()
                if parts[0] == "some":
                    vals = dict(p.split("=") for p in parts[1:])
                    reading["cpu_some_avg10"] = float(vals["avg10"])
                    reading["cpu_some_total_us"] = int(vals["total"])
    except OSError:
        pass  # kernels without PSI: load averages only
    return reading


def contention(before: dict, after: dict) -> dict:
    """Host contention across an interval: load at both ends, the
    share of the interval in which some runnable task waited for CPU,
    and the share of the host's CPU time the hypervisor stole."""
    out = {
        "load1_before": before["load1"],
        "load1_after": after["load1"],
        "cpu_some_avg10_before": before.get("cpu_some_avg10"),
        "cpu_some_avg10_after": after.get("cpu_some_avg10"),
    }
    span_s = max(after["t"] - before["t"], 1e-6)
    out["steal_frac"] = round(
        (after["steal_ticks"] - before["steal_ticks"]) / _TICK / (span_s * os.cpu_count()), 4
    )
    if "cpu_some_total_us" in before and "cpu_some_total_us" in after:
        span_us = span_s * 1e6
        stall = after["cpu_some_total_us"] - before["cpu_some_total_us"]
        out["cpu_some_frac"] = round(stall / span_us, 4)
    return out
