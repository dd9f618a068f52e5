"""Host facts and process accounting for the benchmark, read from procfs:
cores, a heap size that fits the host, CPU time and peak RSS of the driver
process tree, a fixed calibration loop, and stopping what the run started."""

from __future__ import annotations

import os
import re
import signal
import statistics
import time

_TICK = os.sysconf("SC_CLK_TCK")


def cpus() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def driver_heap_mb() -> int:
    """A quarter of host RAM, capped at 4 GiB: the package's 24g default
    heap does not fit small hosts, and the machine is shared."""
    with open("/proc/meminfo") as f:
        total_kb = int(re.search(r"MemTotal:\s+(\d+)", f.read()).group(1))
    return min(4096, total_kb // 4096)


def calib_s() -> float:
    """Median of five timings of a fixed pure-Python loop that runs no
    package code. Diagnostic only: it identifies a slow host, and metrics
    are never divided by it."""
    times = []
    for _ in range(5):
        t = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i % 7
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def steal_ticks() -> tuple[int, int]:
    """Host-wide (steal, total) CPU ticks from ``/proc/stat``: the share of
    time the hypervisor gave this machine's CPUs to other guests."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def stall_us() -> dict[str, int]:
    """Host-wide pressure-stall totals (``/proc/pressure``): microseconds in
    which some task waited for a CPU or for I/O; empty where the kernel
    does not report them."""
    out = {}
    for res in ("cpu", "io"):
        try:
            with open(f"/proc/pressure/{res}") as f:
                out[res] = int(f.readline().rsplit("total=", 1)[1])
        except (OSError, IndexError, ValueError):
            pass
    return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(pid: int) -> float:
    """User plus system CPU seconds of ``pid`` and every live descendant,
    including reaped children's time. Differences of two readings count
    processes that started or ended in between."""
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def stop_processes(pids: list[int], timeout: float = 20.0) -> None:
    """SIGTERM, wait up to ``timeout`` seconds, then SIGKILL what is left,
    and wait until every process is gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            pids = [p for p in pids if _alive(p)]
            if not pids:
                return
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
