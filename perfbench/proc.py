"""CPU time of a process tree, read from ``/proc``.

The benchmark's time metrics count the CPU seconds the driver process,
the JVM and the JVM's Python workers spend, besides wall time.  On a
shared host the hypervisor can take a virtual CPU away for whole seconds
(steal time), and other tenants compete for the cores.  That stretches
wall time but is charged to no process, so CPU time moves far less with
the host's load.  It is not immune: tenants that share the physical cores
also slow each instruction.

The JVM's JIT compiler threads are left out of the measured passes.  Their
work is a warm-up cost that lands in whichever pass the compile queue
happens to drain in: on a contended host compilations queued during the
warm-up pass run during the measured passes instead.  The set-up time
counts them.
"""

from __future__ import annotations

import os

_TICKS = os.sysconf("SC_CLK_TCK")


def parse_stat(text: str) -> tuple[int, int, int, int]:
    """``(pid, ppid, own, waited)`` ticks of one ``/proc/<pid>/stat`` line:
    ``own`` = utime + stime, the task's own CPU time, and ``waited`` =
    cutime + cstime, that of the exited children its process has waited
    for (the whole process's, even in a thread's stat file).  The command
    name can hold spaces and parentheses, so fields are split after its
    last ``)``."""
    pid, _, rest = text.partition(" (")
    fields = [int(f) for f in rest.rpartition(")")[2].split()[1:15]]
    # fields[0] is the ppid (stat field 4); utime..cstime are fields 14..17.
    return int(pid), fields[0], fields[10] + fields[11], fields[12] + fields[13]


#: Thread names (``comm``, 15 characters at most) of HotSpot's JIT compilers.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _read_stat(path: str) -> tuple[str, str] | None:
    """``(comm, line)`` of one stat file, or None if the task has exited
    between the directory listing and the read."""
    try:
        with open(path) as f:
            line = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    return line.partition(" (")[2].rpartition(")")[0], line


def _stats() -> dict[int, tuple[int, int]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (read := _read_stat(f"/proc/{name}/stat")):
            pid, ppid, own, waited = parse_stat(read[1])
            out[pid] = (ppid, own + waited)
    return out


def _threads(pid: int) -> list[tuple[str, str]]:
    """``(comm, line)`` of each live thread of ``pid``."""
    tids = os.listdir(f"/proc/{pid}/task")
    return [read for tid in tids if (read := _read_stat(f"/proc/{pid}/task/{tid}/stat"))]


def thread_names(pid: int) -> list[str]:
    """Names of the live threads of ``pid``."""
    return [comm for comm, _ in _threads(pid)]


def thread_ticks(pid: int, prefixes: tuple[str, ...]) -> int:
    """CPU ticks of the live threads of ``pid`` whose name starts with one
    of ``prefixes``.  A thread's time stays in its process after it exits,
    so this is exact only for threads that never exit: the JVM is started
    with ``-XX:-UseDynamicNumberOfCompilerThreads`` for that."""
    return sum(parse_stat(line)[2] for comm, line in _threads(pid) if comm.startswith(prefixes))


def tree_ticks(stats: dict[int, tuple[int, int]], root: int) -> int:
    """CPU ticks of ``root`` and every live descendant in ``stats``
    (``pid -> (ppid, ticks)``).  Descendants that exited and were waited
    for are already in their parent's cutime/cstime."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
            todo.extend(children.get(pid, ()))
    return total


def tree_cpu_s(root: int, exclude_threads: tuple[str, ...] = ()) -> float:
    """CPU seconds of process ``root`` and its live descendants so far,
    without the threads of ``root`` named by ``exclude_threads``."""
    ticks = tree_ticks(_stats(), root)
    if exclude_threads:
        ticks -= thread_ticks(root, exclude_threads)
    return ticks / _TICKS


def self_cpu_s() -> float:
    """CPU seconds of this process so far, without its children."""
    t = os.times()
    return t.user + t.system


def host_steal() -> tuple[int, int]:
    """``(steal, total)`` ticks of all CPUs from the first line of
    ``/proc/stat``: the time the hypervisor ran something else while a
    virtual CPU had work, and all accounted time."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the host's CPU time that was stolen between two readings."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0
