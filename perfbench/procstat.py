"""Readings from /proc: the run's process-tree CPU, the Python worker
processes' CPU, host steal time and the age of the current process."""

from __future__ import annotations

import os

_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> tuple[str, list[str]] | None:
    """(command name, stat fields from field 3 on) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses; fields resume after the last ')'
    head, tail = raw.rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def _scan() -> tuple[dict[int, list[int]], dict[int, int], dict[int, str]]:
    """Children by parent pid, CPU ticks by pid and command by pid, over
    every live process."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    comm: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        st = _stat(d)
        if st is None:
            continue
        pid, (name, f) = int(d), st
        kids.setdefault(int(f[1]), []).append(pid)
        # utime stime cutime cstime are fields 14-17 (1-based) of stat
        ticks[pid] = sum(int(x) for x in f[11:15])
        comm[pid] = name
    return kids, ticks, comm


def _tree(kids: dict[int, list[int]], root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds of this process and every live descendant,
    including the children each of them has already reaped (the JVM,
    the Python worker daemon and its forked workers all hang below the
    benchmark's own process)."""
    kids, ticks, _ = _scan()
    return sum(ticks.get(p, 0) for p in _tree(kids, os.getpid())) / _TCK


def worker_cpu_s() -> float:
    """CPU seconds of the Python processes the JVM started (the worker
    daemon, its live workers and the workers it has reaped)."""
    kids, ticks, comm = _scan()
    total = 0
    for jvm in kids.get(os.getpid(), ()):
        if comm.get(jvm) == "java":
            for child in kids.get(jvm, ()):
                total += sum(ticks.get(p, 0) for p in _tree(kids, child))
    return total / _TCK


def descendants() -> list[int]:
    """Live processes started, directly or not, by this one."""
    kids, _, _ = _scan()
    return _tree(kids, os.getpid())[1:]


def host_steal_s() -> float:
    """Host-wide steal time so far, summed over CPUs."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / _TCK


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    return up - int(_stat("self")[1][19]) / _TCK
