"""Process-tree resource readings from /proc (psutil is not available).

The measured program is one Python driver, the JVM it launches, and the
Python daemon and workers the JVM forks. ``tree_pids`` walks that tree from
its root; ``tree_cpu_s`` sums user+sys time over it, including each
process's reaped children (``cutime``/``cstime``), so a worker that exits
mid-run still counts; ``tree_pss_bytes`` sums resident memory, shared
pages counted once.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def group_pids(pgid: int) -> list[int]:
    """Live processes of process group ``pgid``."""
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None and int(fields[2]) == pgid:
                out.append(int(name))
    return out


def tree_cpu_s(root: int) -> float:
    """utime+stime+cutime+cstime summed over the tree, in seconds."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11:15] are utime, stime, cutime, cstime (stat 14-17)
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / _TICK


def host_steal_s() -> float:
    """CPU time the hypervisor gave to others while this machine's CPUs
    wanted to run, summed over all CPUs (/proc/stat ``steal``), in
    seconds."""
    with open("/proc/stat", "rb") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def _pss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError):
        pass  # the process ended between listing and reading
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def tree_pss_bytes(root: int) -> dict[str, int]:
    """Proportional set size over the tree, split into the driver (root),
    the JVM and the Python workers: resident memory with each shared page
    (libraries every worker maps, pages a fork shares) split among the
    processes that map it, so a sum counts it once."""
    out = {"driver": 0, "jvm": 0, "workers": 0}
    for pid in tree_pids(root):
        kind = ("driver" if pid == root
                else "jvm" if _comm(pid) == "java" else "workers")
        out[kind] += _pss(pid)
    return out
