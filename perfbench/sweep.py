#!/usr/bin/env python3
"""Run the benchmark over several seeds per workload and summarise it.

    python3 perfbench/sweep.py [--seeds 1-10] [--workloads a,b] [--out FILE]

For each workload: one untraced run per seed, then traced runs on the
first seeds, one per shard, so every query's layer split is recorded.
Each end-to-end metric is summarised as median, quartiles
(``statistics.quantiles(values, n=4)``) and spread (interquartile range
over median); each run's host state and failing calls are kept. The
result is written as JSON (default ``perfbench/baseline/<nproc>core.json``).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from perfbench.workloads import SHARDS  # noqa: E402


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n{p.stderr[-2000:]}")
    lines = [line for line in p.stdout.splitlines() if line.strip()]
    out = json.loads(lines[-1])
    out["seed"] = seed
    out["run_s"] = round(time.perf_counter() - t0, 1)
    out["notes"] = [line[2:] for line in lines[:-1] if line.startswith("# ")]
    return out


def summarise(runs: list[dict]) -> dict:
    out = {}
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        q1, _, q3 = statistics.quantiles(values, n=4)
        med = statistics.median(values)
        out[name] = {
            "unit": runs[0]["metrics"][name]["unit"],
            "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None,
        }
    return out


def parse_seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--out", default=str(HERE / "baseline" / f"{os.cpu_count()}core.json"))
    args = p.parse_args()
    seeds = parse_seeds(args.seeds)
    report = {
        "host": {"cpus": os.cpu_count(), "machine": platform.machine(), "python": platform.python_version()},
        "seeds": seeds,
        "workloads": {},
    }
    for wl in args.workloads.split(","):
        runs = []
        for seed in seeds:
            r = one_run(wl, seed, bench["run_seconds"], 0)
            runs.append(r)
            print(wl, seed, r["run_s"], r["correct"],
                  {k: round(v["value"], 3) for k, v in r["metrics"].items()}, flush=True)
        traced = [one_run(wl, s, bench["run_seconds"], 1) for s in seeds[: SHARDS.get(wl, 1)]]
        report["workloads"][wl] = {"summary": summarise(runs), "runs": runs, "traced": traced}
        for k, s in report["workloads"][wl]["summary"].items():
            print(f"  {k:22s} median={s['median']:.4f} spread={s['spread']:.4f}", flush=True)
    Path(args.out).parent.mkdir(parents=True, exist_ok=True)
    Path(args.out).write_text(json.dumps(report, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
