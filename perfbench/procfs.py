"""Readers of ``/proc`` and of directory trees, shared by the runner
(peak RSS, process-group clean-up), the workloads (CPU seconds, state
bytes) and the tracer (bytes and files a snapshot commit wrote)."""

from __future__ import annotations

import os
from typing import NamedTuple

TICK = os.sysconf("SC_CLK_TCK")


class Proc(NamedTuple):
    ppid: int
    pgrp: int
    comm: str
    state: str
    cpu_ticks: int   # utime + stime + cutime + cstime


def procs() -> dict[int, Proc]:
    """pid -> ``Proc`` for every process visible in ``/proc``."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        comm = s[s.index("(") + 1:s.rindex(")")]
        fields = s[s.rindex(")") + 2:].split()
        out[int(d)] = Proc(int(fields[1]), int(fields[2]), comm, fields[0],
                           sum(int(x) for x in fields[11:15]))
    return out


def group_cpu_s(pgrp: int) -> float:
    """CPU seconds used so far by process group ``pgrp``: its live
    members plus the exited children they reaped (cutime/cstime)."""
    return sum(p.cpu_ticks for p in procs().values()
               if p.pgrp == pgrp) / TICK


def hwm_kb(pid: int) -> int:
    """Peak resident set (``VmHWM``) of ``pid`` in KiB; 0 once it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    total = files = 0
    for dp, _dn, fns in os.walk(path):
        for fn in fns:
            try:
                total += os.path.getsize(os.path.join(dp, fn))
            except OSError:
                continue
            if fn.endswith(".parquet"):
                files += 1
    return total, files
