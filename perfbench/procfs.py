"""Process and host counters read from /proc (Linux)."""

from __future__ import annotations

import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int | str) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name: [0] state,
    [1] ppid, [2] pgrp, [3] session, ... [11] utime, [12] stime, [19]
    start time."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def process_age() -> float:
    """Seconds since this process started (10 ms resolution)."""
    return time.clock_gettime(time.CLOCK_BOOTTIME) - int(_stat("self")[19]) / CLK_TCK


def session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid``."""
    pids = []
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                fields = _stat(p)
            except OSError:
                continue
            if int(fields[3]) == sid and fields[0] != "Z":
                pids.append(int(p))
    return pids


def session_cpu_s(sid: int) -> dict[int, float]:
    """pid -> user + system CPU seconds, for the live processes of session
    ``sid``."""
    out = {}
    for pid in session_pids(sid):
        try:
            fields = _stat(pid)
        except OSError:
            continue
        out[pid] = (int(fields[11]) + int(fields[12])) / CLK_TCK
    return out


def cpu_since(before: dict[int, float], after: dict[int, float]) -> float:
    """CPU seconds the processes alive at ``after`` used since ``before``
    (all of it for a process started in between). A process that ended in
    between drops out rather than taking its earlier CPU off the total."""
    return sum(cpu - before.get(pid, 0.0) for pid, cpu in after.items())


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole host since boot."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)
