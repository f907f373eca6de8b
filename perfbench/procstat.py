"""CPU and memory of a process tree, read from /proc (no psutil).

The tree is the benchmark's own process and every descendant: the JVM that
pyspark launches, the Python daemon it forks, and the daemon's workers.
CPU counts `utime + stime + cutime + cstime`, so children that were reaped
during a window still count, through their parent.
"""

from __future__ import annotations

import os
from typing import Dict, List

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> List[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # the command name sits in parentheses and may itself contain spaces
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> List[int]:
    """`root` and all its live descendants."""
    children: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                ppid = int(_stat_fields(int(name))[1])
            except (OSError, ValueError, IndexError):
                continue  # the process ended while we listed
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """User + system CPU of the tree, reaped children included."""
    total = 0
    for pid in tree(root):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        # fields 14..17 of /proc/<pid>/stat, counted from 1 with pid and comm
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of one process, in MB (0 if it is gone)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace").strip()
    except OSError:
        return ""


def peak_rss_by_process(root: int) -> Dict[int, float]:
    """pid -> VmHWM in MB for every live process of the tree."""
    return {pid: vm_hwm_mb(pid) for pid in tree(root)}


def python_workers(root: int) -> Dict[int, float]:
    """pid -> VmHWM in MB for the Python worker processes of the tree: the
    children of the `pyspark.daemon` process."""
    pids = tree(root)
    daemons = {p for p in pids if "pyspark.daemon" in cmdline(p)}
    out = {}
    for pid in pids:
        try:
            ppid = int(_stat_fields(pid)[1])
        except OSError:
            continue
        if ppid in daemons:
            out[pid] = vm_hwm_mb(pid)
    return out
