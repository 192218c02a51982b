"""Process-tree readings from ``/proc``: CPU seconds and worker peak RSS.

The benchmark's process tree is the driver (this Python process), the
Spark JVM it launches, the PySpark daemon the JVM forks and the Python
workers the daemon forks. ``psutil`` is not available, so the readings
parse ``/proc/<pid>/stat`` and ``/proc/<pid>/status`` directly.
"""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, comm, cpu seconds incl. reaped children) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode("ascii", "replace")
    except OSError:  # the process ended between listdir and open
        return None
    # comm is parenthesised and may hold spaces: split after the last ')'
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is state (stat field 3); utime..cstime are fields 14-17
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])
    return ppid, comm, ticks / _CLK_TCK


def _tree(root: int) -> dict[int, tuple[int, str, float]]:
    """Every live process under ``root`` (inclusive) with its stat."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) of the whole
    process tree under this process."""
    return sum(st[2] for st in _tree(os.getpid()).values())


def worker_pids() -> list[int]:
    """Python processes below a non-Python child of this process: the
    PySpark daemon and its workers under the Spark JVM."""
    me = os.getpid()
    tree = _tree(me)
    return [
        pid
        for pid, (ppid, comm, _) in tree.items()
        if pid != me and comm.startswith("python") and ppid != me
    ]


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (``VmHWM``) of ``pid`` in MiB, 0 if gone."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_worker_rss_mb() -> float:
    """Largest ``VmHWM`` of any live Python worker under this process."""
    return max((vm_hwm_mb(p) for p in worker_pids()), default=0.0)
