#!/usr/bin/env python3
"""Record ``calibration.json``: each suite query's mean call wall and the
pinned stages its plan construction touches, measured the way the
benchmark runs it (untraced, one shard per run).

    python3 perfbench/calibrate.py

The samples are the untraced suite run records already in this
checkout's cache (every ``run.py --trace 0`` writes one), topped up with
fresh runs of the current shards (shard ``i`` on seeds ``i``, ``i + k``,
...) until every query has ``MIN_SAMPLES`` walls. ``workloads.shards``
balances shards with the result.

Re-run after a change that moves query costs a lot or adds a query; a
stale file only unbalances the shards, it never changes a result. A
query missing from the file counts at the median cost.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import run, workloads  # noqa: E402

MIN_SAMPLES = 2


def main() -> int:
    walls: dict[str, list[float]] = {}
    stages: dict[str, list[str]] = {}

    def add(rec: dict) -> None:
        for c in rec["calls"]:
            walls.setdefault(c["name"], []).append(c["wall_s"])
            if c["touches"]:
                stages[c["name"]] = sorted(set(c["touches"]))

    for p in sorted((run.CACHE / "runs").glob("*-seed*.json")):
        rec = json.loads(p.read_text())
        if rec["workload"] in workloads.SUITES and not rec["traced"]:
            add(rec)
    failures: list[str] = []
    for suite, k in workloads.SHARDS.items():
        members = workloads.suites()[suite]
        seed = 0
        while min(len(walls.get(m, [])) for m in members) < MIN_SAMPLES:
            inputs = run.prepare(suite, seed)
            rec = run.measure(suite, seed, inputs, False, run.CACHE / "work" / f"calibrate-{suite}")
            add(rec)
            failures += rec["failures"]
            print(f"{suite} seed {seed}: {len(rec['calls'])} queries, pass {rec['wall_s']:.1f} s", flush=True)
            seed += 1
    cost = {n: round(statistics.mean(w), 3) for n, w in walls.items()}
    workloads.CALIBRATION.write_text(
        json.dumps({"cost_s": cost, "samples": {n: len(w) for n, w in walls.items()}, "stages": stages},
                   indent=1, sort_keys=True) + "\n"
    )
    for f in failures:
        print(f"FAILED {f}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
