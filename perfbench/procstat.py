"""Readers for /proc: host steal time, process-tree memory and CPU."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def steal_jiffies() -> int:
    """Cumulative steal time of all CPUs, from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def descendants(root: int) -> list[int]:
    """Every live process below `root` in the process tree."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def group_members(pgid: int) -> list[int]:
    """Live processes whose process group is `pgid`."""
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None and fields[0] != "Z" and int(fields[2]) == pgid:
                out.append(int(entry))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of the processes below `root`, including the children
    they have reaped (a forking daemon's exited workers)."""
    ticks = 0
    for pid in descendants(root):
        fields = _stat_fields(pid)
        if fields is not None:
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / _TICK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def rss_mb(pid: int) -> float:
    return _status_kb(pid, "VmRSS") / 1024


def tree_peak_rss_mb(root: int) -> float:
    """Sum of the peak resident sets (VmHWM) of `root` and its live descendants."""
    return sum(_status_kb(p, "VmHWM") for p in [root, *descendants(root)]) / 1024


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except OSError:
                pass
    return total
