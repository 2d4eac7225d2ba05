"""Host-side helpers: memory-bandwidth probe, load average, CPU steal,
per-process peak memory from /proc, and process-tree shutdown.

None of this touches the program under test; it lets a reader explain an
outlier run (co-tenant memory-bandwidth bursts) and lets the benchmark
prove that every process it started has ended.
"""

from __future__ import annotations

import os
import signal
import time
from typing import Dict, List, Optional, Tuple

import numpy as np

_PROBE_BYTES = 64 * 1024 * 1024


def memcpy_gbps(reps: int = 5) -> float:
    """Best-of-``reps`` copy rate of a 64 MiB buffer, in GB/s copied.

    64 MiB is several times any last-level cache on the hosts this runs
    on, so the figure tracks DRAM bandwidth, which is what the shuffle and
    scan stages contend for."""
    src = np.ones(_PROBE_BYTES, dtype=np.uint8)
    dst = np.empty_like(src)
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        np.copyto(dst, src)
        best = min(best, time.perf_counter() - t0)
    return _PROBE_BYTES / best / 1e9


def cpu_ticks() -> Tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat.
    Steal is time the hypervisor ran another guest on this guest's CPUs."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def steal_share(before: Tuple[int, int], after: Tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def host_context() -> Dict[str, object]:
    with open("/proc/meminfo") as f:
        mem = {line.split(":")[0]: int(line.split()[1]) for line in f}
    return {
        "memcpy_gbps": round(memcpy_gbps(), 3),
        "loadavg": list(os.getloadavg()),
        "mem_available_mb": mem.get("MemAvailable", 0) // 1024,
        "cpu_ticks": cpu_ticks(),
    }


# -- /proc process tree --------------------------------------------------------

def _stat(pid: int) -> Optional[Tuple[int, int]]:
    """(ppid, start time in clock ticks) of a live process, else None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after the
    # last ')'; fields then start at field 3 (state)
    rest = data[data.rindex(")") + 2:].split()
    return int(rest[1]), int(rest[19])


def descendants(root_pid: int) -> List[Tuple[int, int]]:
    """(pid, start time) of every live descendant of ``root_pid``."""
    children: Dict[int, List[Tuple[int, int]]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(st[0], []).append((int(name), st[1]))
    out, todo = [], [root_pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child[0])
    return out


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process in MB; 0 once it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _alive(proc: Tuple[int, int]) -> bool:
    st = _stat(proc[0])
    # a recycled pid has another start time; a zombie has no memory left
    return st is not None and st[1] == proc[1] and vm_hwm_mb(proc[0]) > 0


def wait_gone(procs: List[Tuple[int, int]], timeout_s: float = 20.0) -> None:
    """Wait for ``procs`` to end; SIGKILL what is left at the deadline and
    wait for that too. Raises if anything survives."""
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in procs) and time.monotonic() < deadline:
        time.sleep(0.05)
    left = [p for p in procs if _alive(p)]
    for pid, _ in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.monotonic() + 10.0
    while any(_alive(p) for p in left) and time.monotonic() < deadline:
        time.sleep(0.05)
    survivors = [p[0] for p in left if _alive(p)]
    if survivors:
        raise RuntimeError(f"processes did not stop: {survivors}")
