"""Process-tree accounting from /proc: CPU time, peak memory, liveness.

The driver process tree of one worker is the Python client, the JVM
that PySpark launches (through spark-submit) and the pyspark.daemon
workers the JVM forks. CPU time of children that already exited is
folded into their parent's cutime/cstime once reaped, so summing
utime+stime+cutime+cstime over the live tree is continuous across
short-lived Python workers.
"""

from __future__ import annotations

import os
import signal
import time

_TICK_MS = 1000.0 / os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name (field 2) may hold spaces; fields after ')' are fixed
    return raw[raw.rindex(")") + 2 :].split()


def _all_stats() -> dict[int, list[str]]:
    out = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None:
                out[int(entry)] = fields
    return out


def tree_pids(root: int) -> list[int]:
    """root plus all of its live descendants."""
    stats = _all_stats()
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats or pid == root:
            out.append(pid)
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_ms(root: int) -> float:
    """utime+stime+cutime+cstime summed over root's live process tree."""
    total = 0.0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # after ')': state ppid ... utime=11 stime=12 cutime=13 cstime=14
            total += sum(int(fields[i]) for i in (11, 12, 13, 14))
    return total * _TICK_MS


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def peak_rss_mb(root: int) -> float:
    """Peak resident memory (VmHWM) of the client process plus its JVM."""
    kb = _status_kb(root, "VmHWM")
    kb += sum(_status_kb(p, "VmHWM") for p in tree_pids(root) if _comm(p) == "java")
    return kb / 1024.0


def rss_mb(pid: int) -> float:
    return _status_kb(pid, "VmRSS") / 1024.0


def tree_starts(root: int) -> dict[int, int]:
    """pid -> start time (clock ticks since boot) of root's live tree;
    the start time tells a process from a later one that reuses its pid."""
    out = {}
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            out[pid] = int(fields[19])  # after ')': starttime=19
    return out


def _alive(pid: int, start: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and int(fields[19]) == start and fields[0] != "Z"


def reap(procs: dict[int, int], grace_s: float) -> list[int]:
    """Wait up to grace_s for the given processes (pid -> start time) to
    end, then SIGKILL what is left and wait for it. Returns the pids
    killed."""
    deadline = time.monotonic() + grace_s
    while any(_alive(p, s) for p, s in procs.items()) and time.monotonic() < deadline:
        time.sleep(0.1)
    left = [p for p, s in procs.items() if _alive(p, s)]
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(_alive(p, procs[p]) for p in left):
        time.sleep(0.05)
    return left
