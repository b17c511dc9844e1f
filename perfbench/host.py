"""Host-noise stamps and process memory, read from /proc outside the
engine. None of these are gated; they sit beside each run's metrics so a
slow run can be told apart from a slow host."""

from __future__ import annotations

import os
import time


def cpu_jiffies() -> tuple[int, int, int]:
    """(steal, iowait, total) jiffies over all CPUs since boot."""
    with open("/proc/stat") as f:
        vals = list(map(int, f.readline().split()[1:]))
    steal = vals[7] if len(vals) > 7 else 0
    return steal, vals[4], sum(vals)


def noise_pct(before: tuple[int, int, int],
              after: tuple[int, int, int]) -> dict:
    total = after[2] - before[2]
    if total <= 0:
        return {"steal_pct": 0.0, "iowait_pct": 0.0}
    return {"steal_pct": round(100.0 * (after[0] - before[0]) / total, 2),
            "iowait_pct": round(100.0 * (after[1] - before[1]) / total, 2)}


def load_1min() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_canary(spark, k: int, rows: int = 50_000_000) -> float:
    """The fixed pure-CPU JVM job of bench.py (no input, no shuffle), at a
    twentieth of its size: an inflated value flags co-tenant degradation that
    steal% misses."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(0, rows, 1, k).select(
        F.sum(F.shiftrightunsigned(F.xxhash64("id"), 32))).collect()
    return round(time.perf_counter() - t0, 3)


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Spark's JVM plus this Python process."""
    return vm_hwm_mb(os.getpid()) + (vm_hwm_mb(jvm_pid) if jvm_pid else 0.0)
