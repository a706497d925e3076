"""CPU time and peak memory of the benchmark's process tree, from /proc.

The tree has three roles: the driver (this Python process), the JVM
(the ``java`` child that PySpark launches) and the Python workers (every
process below the JVM: the PySpark daemon and the workers it forks).
A worker that exits is reaped by the daemon, whose ``cutime``/``cstime``
then carry its CPU, so summing all four fields over the live workers
loses nothing. The driver and the JVM count only their own CPU: their
reaped children are either outside the tree or already counted.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
ROLES = ("driver", "jvm", "pyworker")


def _stat(pid: int) -> tuple[str, int, list[int]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces or parentheses: split around the last ')'
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    ppid = int(fields[1])
    times = [int(x) for x in fields[11:15]]  # utime stime cutime cstime
    return comm, ppid, times


def _tree(root: int) -> dict[int, tuple[str, int, list[int]]]:
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    keep = {root: procs[root]} if root in procs else {}
    frontier = [root]
    while frontier:
        parent = frontier.pop()
        for pid, st in procs.items():
            if st[1] == parent and pid not in keep:
                keep[pid] = st
                frontier.append(pid)
    return keep


def _roles(root: int) -> dict[int, tuple[str, list[int]]]:
    """pid -> (role, [utime, stime, cutime, cstime]) for the live tree."""
    tree = _tree(root)
    jvms = {pid for pid, (comm, _, _) in tree.items() if comm == "java"}
    out = {}
    for pid, (comm, ppid, times) in tree.items():
        if pid == root:
            out[pid] = ("driver", times)
        elif pid in jvms:
            out[pid] = ("jvm", times)
        else:
            anc = ppid
            while anc in tree and anc not in jvms:
                anc = tree[anc][1]
            if anc in jvms:
                out[pid] = ("pyworker", times)
    return out


def cpu_seconds(root: int | None = None) -> dict[str, float]:
    """Cumulative CPU seconds per role."""
    root = root or os.getpid()
    acc = dict.fromkeys(ROLES, 0)
    for role, t in _roles(root).values():
        acc[role] += t[0] + t[1] + (t[2] + t[3] if role == "pyworker" else 0)
    return {k: v / _TICK for k, v in acc.items()}


def peak_rss_mb(root: int | None = None) -> dict[str, float]:
    """VmHWM per role, summed over the role's live processes."""
    root = root or os.getpid()
    acc = dict.fromkeys(ROLES, 0.0)
    for pid, (role, _) in _roles(root).items():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        acc[role] += int(line.split()[1]) / 1024.0
                        break
        except OSError:
            continue
    return acc


def _machine() -> tuple[list[int], int]:
    """The aggregate /proc/stat cpu line and the number of CPUs."""
    with open("/proc/stat") as f:
        lines = f.read().splitlines()
    ncpu = sum(1 for ln in lines if ln.startswith("cpu") and ln[3].isdigit())
    return [int(x) for x in lines[0].split()[1:]], ncpu


def steal_seconds() -> float:
    """CPU time the hypervisor has taken from this machine since boot,
    summed over its CPUs."""
    vals, _ = _machine()
    return vals[7] / _TICK if len(vals) > 7 else 0.0


def ncpu() -> int:
    return _machine()[1]


def busy_cores(interval: float = 0.5) -> float:
    """Cores kept busy by the whole machine over ``interval`` seconds."""
    import time

    v0, n = _machine()
    time.sleep(interval)
    v1, _ = _machine()
    busy = sum(v1) - sum(v0) - (v1[3] + v1[4] - v0[3] - v0[4])
    return busy / max(sum(v1) - sum(v0), 1) * n
