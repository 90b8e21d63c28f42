"""Readings from /proc: host steal, load, and CPU time of a process tree."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_frac(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total > 0 else 0.0


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return data[data.rindex(")") + 2:].split()


def descendants(pid: int) -> list[int]:
    """``pid`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_cpu_s(roots: list[int]) -> float:
    """User + system CPU seconds of ``roots``, their descendants, and the
    children they have reaped."""
    ticks = 0
    seen: set[int] = set()
    for root in roots:
        for pid in descendants(root):
            st = _stat(pid)
            if pid in seen or st is None:
                continue
            seen.add(pid)
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total
