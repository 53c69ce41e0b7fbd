"""Host readings from /proc: contention stamp, resident memory, process tree."""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    return data[data.rindex(")") + 2:].split()  # fields from 'state' on


def tree(roots: list[int]) -> list[int]:
    """The root pids and all their live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], list(roots)
    while todo:
        pid = todo.pop()
        if pid not in out:  # a root may descend from another root
            out.append(pid)
            todo.extend(children.get(pid, []))
    return out


def busy_s() -> float:
    """CPU-seconds the whole host has spent busy since boot."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v[:8]
    return (user + nice + system + irq + softirq + steal) / CLK_TCK


def tree_cpu_s(roots: list[int]) -> float:
    """CPU-seconds used by the process tree, reaped children included."""
    total = 0
    for pid in tree(roots):
        fields = _stat_fields(pid)
        if fields:
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / CLK_TCK


class Contention:
    """CPU-seconds the rest of the host used during a window: the host's
    busy time minus this benchmark's process tree."""

    def __init__(self, roots: list[int]):
        self.roots = roots
        self.host0 = busy_s()
        self.tree0 = tree_cpu_s(roots)

    def other_cpu_s(self) -> float:
        return (busy_s() - self.host0) - (tree_cpu_s(self.roots) - self.tree0)


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


def alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"
