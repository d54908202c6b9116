"""The worker's processes, read from /proc: which are alive, their CPU time,
and the host's steal time.

The launcher starts the worker in a new session. Everything the worker
starts stays in that session, including the Python workers, whose daemon
moves them to a process group of their own (pyspark/daemon.py calls
``setpgid``); so the session, not the process group, is the unit.
"""

from __future__ import annotations

import os

#: JVM threads whose CPU time is JIT compilation (thread names are cut to
#: 15 characters: "C2 CompilerThre")
JIT_THREADS = ("C1 Compiler", "C2 Compiler")


def stat(path: str) -> tuple[str, str, list[int]] | None:
    """(comm, state, [ppid, pgrp, session, tty, tpgid, flags, minflt,
    cminflt, majflt, cmajflt, utime, stime, cutime, cstime]) from a /proc
    stat file; None once the process or thread has been reaped."""
    try:
        with open(path) as fh:
            text = fh.read()
    except OSError:
        return None
    comm, rest = text[text.index("(") + 1 :].rsplit(") ", 1)
    state, *fields = rest.split()[:15]
    return comm, state, [int(x) for x in fields]


def _session(sid: int):
    """(pid, comm, state, fields) of every process of session ``sid``."""
    for pid in filter(str.isdigit, os.listdir("/proc")):
        st = stat(f"/proc/{pid}/stat")
        if st is not None and st[2][2] == sid:
            yield int(pid), *st


def session_pids(sid: int) -> list[int]:
    """Processes of session ``sid`` that have not exited (zombies, which
    only wait for their parent, are left out)."""
    return [pid for pid, _, state, _ in _session(sid) if state != "Z"]


def session_cpu_s(sid: int) -> tuple[float, float]:
    """CPU seconds used so far by the processes of session ``sid`` (with
    the children they have reaped), and the part of it spent in JVM JIT
    compiler threads. The kernel accounts time the hypervisor gives to
    other guests (steal) to neither."""
    total = jit = 0
    for pid, comm, _, fields in _session(sid):
        total += sum(fields[10:14])
        if comm == "java":
            for tid in os.listdir(f"/proc/{pid}/task"):
                t = stat(f"/proc/{pid}/task/{tid}/stat")
                if t is not None and t[0].startswith(JIT_THREADS):
                    jit += t[2][10] + t[2][11]
    tick = os.sysconf("SC_CLK_TCK")
    return total / tick, jit / tick


def cpu_line() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat, in ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the machine's CPU time the hypervisor took between two
    readings of :func:`cpu_line`."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)
