"""CPU time of a process tree and peak RSS, read from /proc."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def processes() -> dict[int, list[str]]:
    """pid -> the fields of /proc/<pid>/stat after the command name
    (state, ppid, pgrp, session, ..., utime at index 11)."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                data = f.read()
        except OSError:
            continue  # exited while we listed
        out[int(pid)] = data[data.rindex(")") + 2 :].split()
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants: the
    driver, the JVM and the Python workers it forked.  Reaped children
    count through their parent's cutime/cstime."""
    procs = processes()
    children: dict[int, list[int]] = {}
    for pid, fields in procs.items():
        children.setdefault(int(fields[1]), []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in procs:
            total += sum(int(x) for x in procs[pid][11:15])
        todo.extend(children.get(pid, []))
    return total / _TICK


def session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes of a session.  The JVM shares the
    session of the process that started it, and so does PySpark's worker
    daemon, which moves to a process group of its own."""
    return [p for p, f in processes().items() if f[3] == str(sid) and f[0] != "Z"]


def peak_rss_mb() -> float:
    """Peak resident set size (VmHWM) of this process, in MB."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc/self/status")
