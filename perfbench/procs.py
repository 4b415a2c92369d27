"""Process hygiene and /proc readings for the benchmark.

The parent starts each driver in its own session (so its own process group),
becomes a child subreaper so that the driver's JVM and Python workers are
re-parented to it when the driver exits, and after every run kills the group,
reaps every descendant and scans /proc for anything still carrying the run's
marker variable.
"""

from __future__ import annotations

import ctypes
import errno
import os
import signal
import time

#: Environment variable set on every process of one run; its value is a
#: per-run token, so a /proc scan finds exactly that run's processes.
MARKER = "PERFBENCH_RUN"

_PR_SET_PDEATHSIG = 1
_PR_SET_CHILD_SUBREAPER = 36


def _prctl(option: int, arg: int) -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(option, arg, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl({option}): {os.strerror(err)}")


def become_subreaper() -> None:
    """Orphaned descendants get re-parented to this process, which reaps them."""
    _prctl(_PR_SET_CHILD_SUBREAPER, 1)


def die_with_parent() -> None:
    """Run in the child before exec: SIGKILL it when its parent dies, so a
    parent killed outright (no cleanup possible) takes its driver along; the
    driver's JVM then exits on its closed stdin."""
    _prctl(_PR_SET_PDEATHSIG, signal.SIGKILL)


def reap_children() -> None:
    """Collect the exit status of every child that has already ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stat_fields(pid: int) -> list[str] | None:
    return _stat_fields_path(f"/proc/{pid}/stat")


def _stat_fields_path(path: str) -> list[str] | None:
    try:
        with open(path) as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm (field 2) may hold spaces and parentheses; the rest follows the
    # last ')'. Returned list: [state, ppid, pgrp, ...].
    return raw[raw.rindex(")") + 2:].split()


def _pids() -> list[int]:
    return [int(n) for n in os.listdir("/proc") if n.isdigit()]


def live_pids(token: str = "") -> list[int]:
    """Processes, other than zombies, that carry this run's marker (any
    run's marker when ``token`` is empty)."""
    needle = f"{MARKER}={token}".encode()
    found = []
    for pid in _pids():
        if pid == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/environ", "rb") as fh:
                env = fh.read().split(b"\0")
        except OSError:
            continue
        fields = _stat_fields(pid)
        marked = any(e.startswith(needle) for e in env)
        if marked and fields is not None and fields[0] != "Z":
            found.append(pid)
    return found


def group_alive(pgid: int) -> bool:
    for pid in _pids():
        fields = _stat_fields(pid)
        if fields is not None and int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def stop_group(pgid: int, grace_s: float = 5.0) -> None:
    """SIGTERM the process group, then SIGKILL it, reaping as it dies."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            pass
        deadline = time.monotonic() + grace_s
        while time.monotonic() < deadline:
            reap_children()
            if not group_alive(pgid):
                return
            time.sleep(0.05)


def kill_and_reap(pids: list[int], wait_s: float = 5.0) -> None:
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError as exc:
            if exc.errno != errno.ESRCH:
                raise
    deadline = time.monotonic() + wait_s
    while time.monotonic() < deadline and any(
        (f := _stat_fields(p)) is not None and f[0] != "Z" for p in pids
    ):
        reap_children()
        time.sleep(0.05)
    reap_children()


def child_pids(pid: int, comm: str) -> list[int]:
    """Direct children of ``pid`` whose command name is ``comm``."""
    out = []
    for p in _pids():
        fields = _stat_fields(p)
        if fields is None or int(fields[1]) != pid:
            continue
        try:
            with open(f"/proc/{p}/comm") as fh:
                if fh.read().strip() == comm:
                    out.append(p)
        except OSError:
            continue
    return out


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of one process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


#: Name prefixes (``comm`` is cut at 15 characters) of HotSpot's JIT
#: compiler threads.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _cpu_ticks(fields: list[str], children: bool) -> int:
    # utime and stime, then cutime and cstime: fields 14-17 of the stat line.
    return sum(int(x) for x in fields[11:15 if children else 13])


def tree_cpu_s(root: int) -> tuple[float, float]:
    """CPU seconds (user + system) used so far by ``root`` and its live
    descendants, including what their reaped children used, and the part of
    it spent in JVM JIT-compiler threads. Steal time is not CPU time: the
    kernel accounts it apart. Compiler threads must live as long as their
    JVM (``-XX:-UseDynamicNumberOfCompilerThreads``), or the CPU of one that
    exited would be counted as the application's."""
    parent, stat = {}, {}
    for pid in _pids():
        fields = _stat_fields(pid)
        if fields is not None:
            parent[pid], stat[pid] = int(fields[1]), fields
    total = jit = 0
    for pid, fields in stat.items():
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p != root:
            continue
        total += _cpu_ticks(fields, children=True)
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    if not fh.read().startswith(JIT_THREADS):
                        continue
            except OSError:
                continue
            tfields = _stat_fields_path(f"/proc/{pid}/task/{tid}/stat")
            if tfields is not None:
                jit += _cpu_ticks(tfields, children=False)
    tick = os.sysconf("SC_CLK_TCK")
    return total / tick, jit / tick


def host_steal_s() -> float:
    """CPU seconds the hypervisor withheld from this machine's CPUs since
    boot (the ``steal`` column of /proc/stat), summed over CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
