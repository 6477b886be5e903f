"""Host drift helpers: CPU tick samples from /proc/stat and the
steal/busy share of the interval between two of them.

perfbench's host probe (perfbench/metrics.py) imports these to record
how much CPU time the hypervisor stole while a run was measured.
"""

from __future__ import annotations


def _cpu_ticks() -> list[int] | None:
    """Aggregate /proc/stat CPU ticks (user nice system idle iowait
    irq softirq steal), or None where /proc/stat is unreadable."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        return [int(x) for x in parts[1:9]]
    except (OSError, ValueError, IndexError):
        return None


def _cpu_drift(a, b) -> dict:
    """Steal/busy percentages of the interval between two tick
    samples. steal_pct is hypervisor time stolen from this VM: a
    latency change that tracks it is the host's, not the code's."""
    if not a or not b:
        return {}
    d = [y - x for x, y in zip(a, b)]
    tot = sum(d)
    if tot <= 0:
        return {}
    return {"steal_pct": round(100 * d[7] / tot, 2),
            "busy_pct": round(100 * (tot - d[3] - d[4]) / tot, 2)}
