"""CPU time of the benchmark's whole process tree.

A run is one Python process, the Spark JVM it launches and the Python
workers the JVM forks. ``tree_cpu_s()`` sums user + system time of this
process and every live descendant, each with the time of the children it
has already reaped, read from ``/proc/<pid>/stat``, and leaves out the
time of the JVM's JIT compiler threads (``jit_cpu_s()``): how much
compiling lands in one operation depends on timing, and it ran 3-16 s per
headline pass during warm-up. The kernel does not charge a process for
time its virtual CPU was stolen by the host, so on a shared host the CPU
time of an operation moves far less than its wall time, while work the
program adds or removes moves it in full.
"""

from __future__ import annotations

import os
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")


def _read_stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of a stat file, None if gone."""
    try:
        with open(path) as fh:
            data = fh.read()
    except OSError:
        return None
    end = data.rfind(")")
    return data[data.find("(") + 1:end], data[end + 2:].split()


def _jit_ticks(pid: int) -> int:
    """utime + stime of the JIT compiler threads of ``pid``."""
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    out = 0
    for tid in tids:
        st = _read_stat(f"/proc/{pid}/task/{tid}/stat")
        if st is not None and "CompilerThre" in st[0]:
            out += int(st[1][11]) + int(st[1][12])
    return out


def _tree_ticks() -> tuple[int, int]:
    """(all CPU ticks, JIT compiler ticks) of this process's tree."""
    kids: dict[int, list[int]] = defaultdict(list)
    cpu: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _read_stat(f"/proc/{name}/stat")
        if st is not None:
            # ppid; utime, stime, cutime, cstime
            kids[int(st[1][1])].append(int(name))
            cpu[int(name)] = sum(int(x) for x in st[1][11:15])
    total = jit = 0
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        jit += _jit_ticks(pid)
        todo.extend(kids.get(pid, ()))
    return total, jit


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants,
    JIT compiler threads left out."""
    total, jit = _tree_ticks()
    return (total - jit) / _TICK


def jit_cpu_s() -> float:
    """CPU seconds used so far by the JIT compiler threads of the tree."""
    return _tree_ticks()[1] / _TICK
