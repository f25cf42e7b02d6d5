"""Host state recorded with every run, never inside a timed region.

- ``loadavg``: the 1/5/15-minute load averages.
- ``cpu_probe``: seconds for a fixed single-thread Python loop after an
  untimed warm-up spin (the same calibration ``bench.py`` stamps into
  its records, at a third of its length). Probes taken across a run
  that disagree by more than ``PROBE_DISAGREE`` mark the run as taken
  under co-tenant throttling.
- ``steal_share``: the share of CPU time the hypervisor gave to other
  guests (``steal`` in ``/proc/stat``) between two ``cpu_ticks``
  readings, taken around the timed pass.
- Peak resident memory of a process since the last reset, from
  ``/proc/<pid>/status`` (``VmHWM``), reset through ``clear_refs``.
"""

from __future__ import annotations

import os
import time

PROBE_DISAGREE = 1.5


def cpu_probe() -> float:
    x = 0
    for i in range(1_000_000):  # untimed: wake the core first
        x += i
    t0 = time.perf_counter()
    for i in range(3_000_000):
        x += i
    return time.perf_counter() - t0


def loadavg() -> list[float]:
    return [round(v, 2) for v in os.getloadavg()]


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat``: user, nice, system,
    idle, iowait, irq, softirq, steal, ... in clock ticks."""
    try:
        with open("/proc/stat") as f:
            return [int(v) for v in f.readline().split()[1:]]
    except OSError:
        return []


def steal_share(before: list[int], after: list[int]) -> float | None:
    if len(before) < 8 or len(after) < 8:
        return None
    # guest time is already counted in user and nice
    total = sum(after[:8]) - sum(before[:8])
    return round((after[7] - before[7]) / total, 4) if total > 0 else None


def verdict(probes: list[float]) -> dict:
    ratio = max(probes) / max(min(probes), 1e-9) if probes else 1.0
    return {
        "cpu_probe_s": [round(p, 4) for p in probes],
        "cpu_probe_ratio": round(ratio, 3),
        "throttled": ratio > PROBE_DISAGREE,
    }


def reset_peak_rss(pid: int) -> None:
    """Restart ``pid``'s peak-RSS watermark at its current RSS."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass  # watermark then covers the process lifetime: an upper bound


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
