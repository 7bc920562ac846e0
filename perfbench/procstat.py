"""CPU and memory of the benchmark's process tree, read from ``/proc``.

The tree is this Python driver, the JVM it launched, and the Python UDF
workers the JVM forks.  User CPU is what the program burns; steal time
(the hypervisor running someone else on our vCPU) and the JVM's system
time are read separately as host-noise flags.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process exited between listing and reading
        return None
    # the command name may hold spaces; every field after it is numeric
    return raw[raw.rindex(")") + 2 :].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                kids.setdefault(int(f[1]), []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


@dataclass
class CpuSample:
    user_s: float      # user CPU of the whole tree, reaped children included
    worker_s: float    # the part spent in Python UDF workers
    jvm_sys_s: float   # system CPU of the JVM alone
    steal_s: float     # host-wide steal time


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _steal_s() -> float:
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return int(cpu[8]) / _TICK


def sample(root: int, jvm: int) -> CpuSample:
    """User CPU of ``root``'s tree.  A live process's ``cutime`` holds the
    children it has reaped, so summing ``utime + cutime`` over live
    processes counts every worker exactly once."""
    user = worker = jvm_sys = 0.0
    for pid in descendants(root):
        f = _stat_fields(pid)
        if f is None:
            continue
        u = (int(f[11]) + int(f[13])) / _TICK
        user += u
        if pid == jvm:
            jvm_sys = int(f[12]) / _TICK
        elif pid != root and "pyspark" in _comm(pid):
            worker += u
    return CpuSample(user, worker, jvm_sys, _steal_s())


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def rss_mb(root: int) -> float:
    """Peak resident memory of ``root``'s tree: each child's high-water
    mark (``VmHWM``) plus the driver's current resident size.  The
    driver's own high-water mark is left out because the benchmark's
    input generator and output checks run in that process."""
    pids = descendants(root)
    kb = _status_kb(root, "VmRSS:") + sum(_status_kb(p, "VmHWM:") for p in pids if p != root)
    return kb / 1024
