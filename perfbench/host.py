"""Host-shift control and memory readings.

``calibrate`` times a fixed CPU loop. The benchmark runs it before and
after every run and reports it as ``host.calib_s``: when the host as a
whole slows down (neighbours, thermal limits), this number moves with the
benchmark's own timings and a shift is not read as a regression.
``steal_share`` measures the CPU time the hypervisor took away.
"""

from __future__ import annotations

import os
import time


def calibrate(n: int = 1_500_000) -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def vm_hwm_kb(pid: int | str = "self") -> int:
    """High-water resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for process {pid}")


def reset_hwm() -> None:
    """Restart this process's VmHWM from its current RSS, so the peak the
    benchmark reports leaves out fixture generation and the oracle."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def cpu_times() -> tuple[float, float]:
    """Seconds the whole machine's CPUs spent busy and stolen by the
    hypervisor since boot (the ``cpu`` line of /proc/stat)."""
    with open("/proc/stat") as f:
        user, nice, system, _, _, irq, softirq, steal = (int(x) for x in f.readline().split()[1:9])
    hz = os.sysconf("SC_CLK_TCK")
    return (user + nice + system + irq + softirq) / hz, steal / hz


def steal_share(before: tuple[float, float], after: tuple[float, float]) -> float:
    """Between two ``cpu_times`` readings: the share of the time the CPUs
    had work to run during which the hypervisor ran another guest instead.

    On a shared virtual machine this share moved from 3% to 45% between
    runs minutes apart and stretched wall times with it. Wall time scaled
    by ``1 - steal_share`` is the benchmark's estimate of the time on a
    machine of its own; the raw wall time is printed beside it."""
    busy, steal = after[0] - before[0], after[1] - before[1]
    return steal / (busy + steal) if busy + steal > 0 else 0.0


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))
