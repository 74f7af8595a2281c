"""Summary statistics shared by the workloads."""

from __future__ import annotations

import math
import statistics


def read_ms(samples: list[tuple[str, float]]) -> float:
    """Geometric mean over kinds of each kind's median latency, in ms.

    ``samples`` are ``(kind, seconds)``.  Every kind weighs the same however
    many of it ran, and the figure does not jump between kinds the way the
    median of a mix of fast and slow kinds does.
    """
    by_kind: dict[str, list[float]] = {}
    for kind, s in samples:
        by_kind.setdefault(kind, []).append(s)
    logs = [math.log(statistics.median(v) * 1e3) for v in by_kind.values()]
    return math.exp(sum(logs) / len(logs))


def cpu_s(pid: int) -> float:
    """CPU seconds used so far by this process and by process ``pid``,
    each with its waited-for children."""
    import os
    import time

    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    ticks = sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK") + time.process_time()
