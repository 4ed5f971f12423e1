"""CPU time of a process session, read from /proc.

The benchmark's time metrics are CPU seconds of the worker's session: the
Python driver, the driver JVM and any Python workers Spark starts.  The
kernel leaves out time the hypervisor gave to other guests (steal) and time
spent waiting for a CPU or a disk, so on a shared host these figures move
far less with the neighbours' load than wall-clock time does.

The JVM's JIT compiler threads are left out.  In a run of about a minute
they are the JVM warming up, not the program working: they were half of a
small conversion's CPU time and shrank with every operation, by a different
amount in every run.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")
# thread names (as /proc shows them, cut to 15 characters) of HotSpot's
# JIT compiler threads
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]]:
    """(comm, fields from field 3 on) of a /proc stat file."""
    with open(path) as f:
        head, tail = f.read().rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def snapshot(sid: int) -> tuple[int, dict[tuple[int, int], int]]:
    """(CPU ticks of every process in session ``sid``, CPU ticks of each
    JIT compiler thread of each JVM in it by (pid, tid)).

    A process's ticks include the children it has reaped, so a process
    that ends between two snapshots is still counted."""
    total, jit = 0, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            comm, fields = _stat(f"/proc/{name}/stat")
        except OSError:
            continue
        # fields[0] is field 3 of proc(5): state, ppid, pgrp, session, ...,
        # utime (14), stime, cutime, cstime (17)
        if int(fields[3]) != sid:
            continue
        total += sum(int(x) for x in fields[11:15])
        if comm != "java":
            continue
        try:
            tids = os.listdir(f"/proc/{name}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                tcomm, tfields = _stat(f"/proc/{name}/task/{tid}/stat")
            except OSError:
                continue
            if tcomm.startswith(JIT_THREADS):
                jit[(int(name), int(tid))] = int(tfields[11]) + int(tfields[12])
    return total, jit


def cpu_s_since(before: tuple, after: tuple) -> float:
    """CPU seconds between two snapshots, less what the JIT compiler
    threads used.  What a compiler thread that ended in between used is
    counted; that is little, since the JVM stops only idle ones."""
    (t0, jit0), (t1, jit1) = before, after
    jit = sum(ticks - jit0.get(key, 0) for key, ticks in jit1.items())
    return (t1 - t0 - jit) / CLK_TCK

