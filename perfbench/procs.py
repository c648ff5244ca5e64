"""CPU, memory and lifetime of the benchmark's own processes, read from
``/proc``: the Python driver, the Spark JVM it launches, and the Python
workers the JVM forks."""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def start_time() -> float:
    """Wall-clock time at which this process started."""
    started = int(_stat("/proc/self/stat")[1][19]) / _TICK
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + started


def children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
        except OSError:
            pass
    return out


def tree(pid: int) -> list[int]:
    """``pid`` and every live descendant."""
    todo, seen = [pid], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo += children(p)
    return seen


def _stat(path: str) -> tuple[str, list[str]]:
    """(command name, fields after it) of a /proc stat file."""
    with open(path) as fh:
        raw = fh.read()
    return raw[raw.index("(") + 1:raw.rindex(")")], raw.rsplit(")", 1)[1].split()


def _ticks(fields: list[str], with_children: bool) -> int:
    # utime, stime, cutime, cstime are fields 14-17 of proc_pid_stat(5)
    return sum(int(x) for x in fields[11:15 if with_children else 13])


def _jit_ticks(jvm_pid: int) -> int:
    """CPU of the JVM's JIT compiler threads (the benchmark's JVM keeps
    them alive for its whole life, so none of their time is lost)."""
    ticks = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            comm, fields = _stat(f"/proc/{jvm_pid}/task/{tid}/stat")
        except OSError:
            continue
        if "CompilerThre" in comm:
            ticks += _ticks(fields, False)
    return ticks


def cpu_seconds(jvm_pid: int) -> float:
    """CPU seconds so far of this driver plus the JVM and its workers (a
    reaped worker's time is in its parent's child times), without the
    JVM's JIT compiler threads."""
    ticks = _ticks(_stat("/proc/self/stat")[1], False)
    for pid in tree(jvm_pid):
        try:
            ticks += _ticks(_stat(f"/proc/{pid}/stat")[1], True)
        except OSError:
            pass
    return (ticks - _jit_ticks(jvm_pid)) / _TICK


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` is alive; returns those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _zombie(p)]
        if alive:
            time.sleep(0.05)
    return alive


def _zombie(pid: int) -> bool:
    try:
        return _stat(f"/proc/{pid}/stat")[1][0] == "Z"
    except OSError:
        return True

