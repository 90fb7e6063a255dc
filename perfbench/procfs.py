"""Peak memory of this process and the Spark JVM it started, and the
CPU time the machine lost to other tenants, read from ``/proc``."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine since
    boot, summed over its CPUs (the steal column of /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def _stat(pid: int) -> list[str] | None:
    """The fields of /proc/<pid>/stat after the command name."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:  # the process has gone
        return None


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if p.isdigit() and (st := _stat(int(p))) is not None:
            children.setdefault(int(st[1]), []).append(int(p))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of one process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def jvm_pids() -> list[int]:
    """The JVMs this process started."""
    pids = []
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    pids.append(pid)
        except OSError:
            continue
    return pids
