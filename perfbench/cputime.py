"""CPU seconds used by a process tree, read from ``/proc``.

The benchmark's time metrics are CPU seconds of its own process tree: the
Python client, the Spark JVM and the JVM's Python workers. On a shared
host the wall clock of an op also holds the time the hypervisor gives
the CPU to other guests (``steal`` in ``/proc/stat``). The kernel does not
charge stolen time to tasks, so CPU seconds measure the program's own
work however busy the neighbours are.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
# JVM JIT compiler threads, as ``/proc`` names them (15 characters).
# Their CPU is the JVM compiling itself, which a short-lived JVM does for
# the whole run; it is neither the program's work nor steady.
COMPILER_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(name, fields after the name) of a ``/proc`` stat file."""
    try:
        with open(path) as fh:
            text = fh.read()
    except OSError:  # the process or thread ended while we looked
        return None
    # the name may hold spaces and ')': it ends at the last ')'
    head, tail = text.rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def _compiler_ticks(pid: int) -> int:
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        st = _stat(f"/proc/{pid}/task/{tid}/stat")
        if st and st[0] in COMPILER_THREADS:
            ticks += int(st[1][11]) + int(st[1][12])
    return ticks


def tree_cpu_s(root: int | None = None) -> float:
    """User plus system CPU seconds of ``root`` (default: this process) and
    every live descendant, each with what its reaped children used, less
    the CPU of JIT compiler threads. The JVM must keep its compiler threads
    for its whole life (``-XX:-UseDynamicNumberOfCompilerThreads``): the
    CPU of a thread that has ended cannot be told apart any more."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    cpu: dict[int, int] = {}
    threads: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(f"/proc/{name}/stat")
        if st is None:
            continue
        f = st[1]
        pid = int(name)
        children.setdefault(int(f[1]), []).append(pid)
        cpu[pid] = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])  # utime stime cutime cstime
        threads[pid] = int(f[17])
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += cpu.get(pid, 0)
        if threads.get(pid, 1) > 1:
            ticks -= _compiler_ticks(pid)
        todo.extend(children.get(pid, ()))
    return ticks / _TICK
