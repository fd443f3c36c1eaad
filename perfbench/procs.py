"""Process-tree bookkeeping from ``/proc``: CPU, resident memory, host
steal, and the kill-and-reap that guarantees no process outlives a run.

Spark's Python daemon moves itself into its own process group, so the
tree is followed through parent pids, not process groups. The benchmark
process makes itself a child subreaper: anything orphaned under it is
re-parented to it and can still be killed and reaped.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm may contain spaces: split after its closing paren
    return s[s.rindex(")") + 2 :].split()


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = int(st[1])
    return out


def descendants(root: int, include_root: bool = False) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        for c in children.get(p, []):
            out.append(c)
            todo.append(c)
    return ([root] if include_root else []) + out


def tree_cpu_s(root: int) -> float:
    """User+system CPU of ``root`` and every live descendant, plus what
    they have already reaped from exited children (cutime/cstime)."""
    ticks = 0
    for pid in descendants(root, include_root=True):
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of /proc/<pid>/stat (utime stime cutime cstime)
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _CLK


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in descendants(root, include_root=True):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def cpu_counters() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user/nice
    return vals[7], sum(vals[:8])


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def kill_tree(root: int) -> None:
    """SIGKILL ``root``'s process group and every descendant."""
    pids = descendants(root, include_root=True)
    try:
        os.killpg(root, signal.SIGKILL)
    except OSError:
        pass
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def reap_all(timeout: float = 30.0) -> list[int]:
    """Kill and reap every remaining child and descendant of this
    process (orphans included, as subreaper). Returns the pids still
    alive after ``timeout`` — empty on success."""
    me = os.getpid()
    deadline = time.time() + timeout
    while True:
        left = descendants(me)
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        left = descendants(me)
        if not left or time.time() > deadline:
            return left
        time.sleep(0.05)
