"""This process and its descendants (the Spark driver JVM, its Python
workers), read from /proc: CPU time, resident memory, liveness."""

from __future__ import annotations

import os

TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stats() -> dict[int, list[str]]:
    """pid -> /proc/<pid>/stat fields after the command name."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    out[int(name)] = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
    return out


def _tree(stats: dict[int, list[str]], pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for p, fields in stats.items():
        kids.setdefault(int(fields[1]), []).append(p)
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        out.append(p)
        frontier += kids.get(p, [])
    return out


def descendants(pid: int | None = None) -> list[int]:
    pid = os.getpid() if pid is None else pid
    return _tree(_stats(), pid)[1:]


def cpu_s() -> float:
    """User + system CPU seconds of this process tree so far, including
    children it has reaped. CPU time a hypervisor steals from the guest is
    not in it, which is why the benchmark reports CPU beside wall time."""
    stats = _stats()
    return TICK_S * sum(
        sum(int(x) for x in stats[p][11:15])   # utime stime cutime cstime
        for p in _tree(stats, os.getpid()) if p in stats)


def pss_mb() -> float:
    """Proportional resident memory of this process tree, MB: pages shared
    between forked Python workers count once in total, not once each."""
    kb = 0
    for p in _tree(_stats(), os.getpid()):
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024
