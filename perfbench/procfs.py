"""Process figures read from /proc: peak RSS, CPU time, descendants."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        # the command name may hold spaces; fields restart after its ')'
        return f.read().rsplit(")", 1)[1].split()


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        return _stat_fields(pid)[0] != "Z"
    except OSError:
        return False


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_s(pid: int) -> float:
    """User+system CPU seconds used so far by ``pid`` and its live
    descendants (each with its reaped children), plus this Python process."""
    ticks = 0
    for p in [pid] + descendants(pid):
        try:
            f = _stat_fields(p)
        except OSError:
            continue  # exited between the listing and the read
        # utime, stime, cutime, cstime are fields 14-17 (index 11-14 here)
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    own = os.times()
    return ticks / _TICK + own.user + own.system
