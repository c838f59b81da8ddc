"""Spark-free pieces of the benchmark: op samples, the closed-loop timer,
percentiles and host context.

A workload exposes ``run_pass(tracer)``, which runs every operation of the
workload once and returns one ``OpResult`` per operation. ``timed_loop``
calls it back to back, one client and no think time (a closed loop), until
the run's time budget is spent, and always completes at least one pass.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class OpResult:
    name: str
    seconds: float
    ok: bool
    error: str = ""


@dataclass
class Samples:
    passes: list[list[OpResult]] = field(default_factory=list)
    pass_s: list[float] = field(default_factory=list)  # wall time x unstolen share
    pass_cpu_s: list[float] = field(default_factory=list)
    pass_steal_pct: list[float] = field(default_factory=list)

    @property
    def ops(self) -> list[OpResult]:
        return [r for p in self.passes for r in p]

    def op_medians(self) -> dict[str, float]:
        """Each operation's median latency over the passes it completed in."""
        by_name: dict[str, list[float]] = {}
        for r in self.ops:
            if r.ok:
                by_name.setdefault(r.name, []).append(r.seconds)
        return {name: statistics.median(v) for name, v in by_name.items()}


def timed_loop(run_pass, seconds: float) -> Samples:
    """Run passes until ``seconds`` have elapsed (at least one pass)."""
    samples = Samples()
    t0 = time.perf_counter()
    while True:
        cpu0, ticks0, t = tree_cpu_s(), cpu_ticks(), time.perf_counter()
        samples.passes.append(run_pass())
        wall, cpu, ticks = time.perf_counter() - t, tree_cpu_s() - cpu0, cpu_ticks()
        samples.pass_s.append(wall * unstolen(ticks0, ticks))
        samples.pass_cpu_s.append(cpu)
        samples.pass_steal_pct.append(steal_pct(ticks0, ticks))
        if time.perf_counter() - t0 >= seconds:
            return samples


def run_op(name: str, fn) -> OpResult:
    """Time ``fn()``; an exception marks the op failed and never escapes."""
    t = time.perf_counter()
    try:
        fn()
    except Exception as exc:  # noqa: BLE001 — one failing op must not end the run
        return OpResult(name, time.perf_counter() - t, False, f"{type(exc).__name__}: {exc}"[:300])
    return OpResult(name, time.perf_counter() - t, True)


def count_failed(ops: list[OpResult], mismatched: set[str] | dict) -> int:
    """Operations that raised, plus every execution of an operation whose
    output failed its check."""
    return sum(1 for r in ops if not r.ok or r.name in mismatched)


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def p90(values: list[float]) -> float:
    """Nearest-rank 90th percentile: a value that was measured, never an
    interpolation between two different operations."""
    return sorted(values)[math.ceil(0.9 * len(values)) - 1] if values else 0.0


def process_age_s() -> float:
    """Seconds since this process started (from /proc, 10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cal_1t_s() -> float:
    """Single-thread host reference: seconds for a fixed 10M-step Python
    add loop (the same loop ``bench.py`` brackets its runs with)."""
    t = time.perf_counter()
    s = 0
    for i in range(10_000_000):
        s += i
    return time.perf_counter() - t


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process below it: the gateway JVM, the pyspark daemon and its workers.
    A child that has ended and been waited for is counted in its parent's
    cutime/cstime, so the difference of two samples is the CPU time the
    program used between them, whatever started or ended in between."""
    stats: dict[int, tuple[int, int]] = {}  # pid -> (ppid, ticks)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # ended while we listed /proc
            continue
        utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
        stats[int(entry)] = (int(fields[1]), utime + stime + cutime + cstime)
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, busy) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9]
        )
    return steal, user + nice + system + irq + softirq + steal


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Hypervisor steal as a percentage of busy time between two samples."""
    busy = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / busy if busy > 0 else 0.0


def unstolen(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of busy time between two ``cpu_ticks`` samples that the
    hypervisor did not steal. While a vCPU is stolen the program waits, so
    its wall time stretches by about 1 / this share: on a KVM guest with 4
    vCPUs one retail_etl pass took 35.7 s at 0.3% steal and 60.2 s at 33.5%,
    and 35.6 s and 40.0 s once multiplied by it. Timings are multiplied by
    it over the interval they cover."""
    return 1.0 - steal_pct(before, after) / 100.0
