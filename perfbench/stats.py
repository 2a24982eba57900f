"""Percentiles and procfs readings: CPU time of a process tree, peak RSS,
host steal. Linux only; every reader returns None where /proc is missing."""

from __future__ import annotations

import math
import os
import statistics

BEYOND = 10  # samples that must lie beyond a reported percentile


def min_samples(p: float) -> int:
    """Fewest samples for which *BEYOND* lie above percentile *p*:
    20 for the median, 100 for p90."""
    return math.ceil(round(BEYOND / (1.0 - p), 9))


def percentile(values: list[float], p: float) -> float:
    """Percentile *p* in (0, 1): the median for 0.5, else nearest rank.
    Refused when fewer than ``min_samples(p)`` samples back it."""
    if len(values) < min_samples(p):
        raise ValueError(f"p{round(100 * p)} needs >= {min_samples(p)} samples, got {len(values)}")
    if p == 0.5:
        return statistics.median(values)
    xs = sorted(values)
    return xs[math.ceil(round(p * len(xs), 9)) - 1]


# -- host ------------------------------------------------------------------

def cpu_jiffies() -> list[int] | None:
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_pct(a: list[int] | None, b: list[int] | None) -> float | None:
    """Steal as a share of demanded CPU (non-idle, non-iowait jiffies)
    between two ``cpu_jiffies`` readings; None over a near-idle interval,
    whose denominator is too small to mean anything."""
    if not a or not b or len(a) < 8 or len(b) < 8:
        return None
    d = [y - x for x, y in zip(a, b)]
    demanded = sum(d) - d[3] - d[4]
    return round(100.0 * d[7] / demanded, 2) if demanded >= 500 else None


def loadavg() -> list[float] | None:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:
        return None


# -- process tree ----------------------------------------------------------

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # the comm field may hold spaces; fields resume after its closing paren
    return data[data.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Every live process below *root* (the JVM and its Python workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """User+sys CPU seconds of this process plus every descendant,
    counting children they have already reaped (exited Python workers)."""
    tick = os.sysconf("SC_CLK_TCK")
    t = os.times()
    total = t.user + t.system
    for pid in descendants(os.getpid()):
        st = _stat(pid)
        if st:
            # utime stime cutime cstime are fields 14-17 (1-based)
            total += sum(int(x) for x in st[11:15]) / tick
    return total


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
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


def peak_rss_mb() -> float:
    """VmHWM of this process plus every JVM below it."""
    kb = _vm_hwm_kb(os.getpid())
    kb += sum(_vm_hwm_kb(p) for p in descendants(os.getpid()) if _comm(p) == "java")
    return kb / 1024.0
