"""Self-checks of the benchmark itself; none of them starts Spark.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import gen, run, trace, workloads  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def _digests(d: Path) -> dict[str, str]:
    return {
        str(p.relative_to(d)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(d.rglob("*"))
        if p.is_file()
    }


@pytest.mark.parametrize("make", [gen.tables, gen.rime], ids=["tables", "rime"])
def test_generator_is_deterministic(tmp_path, make):
    a, _ = make(7, tmp_path / "a")
    b, _ = make(7, tmp_path / "b")
    c, _ = make(8, tmp_path / "c")
    assert _digests(a) == _digests(b)
    assert _digests(a) != _digests(c)


def test_rime_log_plants_every_defect(tmp_path):
    _, manifest = gen.rime(3, tmp_path)
    planted = manifest["planted"]
    assert min(planted.values()) > 0
    assert manifest["corrupt_expected"] == planted["truncated"] + planted["wrong_type"]


def test_every_registered_query_is_in_exactly_one_suite():
    from rime_wanxiang_logger_spark.operators import all_queries

    by_suite = workloads.suites()
    placed = [n for members in by_suite.values() for n in members]
    assert sorted(placed) == sorted(all_queries())
    assert len(placed) == len(set(placed))


def test_shards_partition_each_suite():
    calibration = json.loads(workloads.CALIBRATION.read_text())
    for suite, members in workloads.suites().items():
        k = workloads.SHARDS[suite]
        shards = workloads.shards(members, k, calibration)
        flat = [n for s in shards for n in s]
        assert sorted(flat) == sorted(members), suite
        assert [workloads.plan(suite, seed) for seed in range(k)] == shards
        # queries that share a pinned stage run in the same shard
        for s in shards:
            for n in s:
                for stage in calibration["stages"].get(n, []):
                    users = {m for m in members if stage in calibration["stages"].get(m, [])}
                    assert users <= set(s), (suite, stage)


def test_each_drain_is_in_a_suite():
    from rime_wanxiang_logger_spark.operators import all_queries

    drains = [n for n, fn in all_queries().items() if workloads.is_drain(fn)]
    assert len(drains) == 7


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in BENCH["workloads"]] == list(workloads.WORKLOADS)


def _printed_metrics(traced: bool) -> set[str]:
    """Metric names the runner prints, from a synthetic run record."""
    calls = [
        {"name": f"q{i}", "wall_s": 0.1 * (i + 1), "ok": True, "error": None, "rows": 1,
         "drain": i == 0, "pin_reads": [], "touches": []}
        for i in range(12)
    ]
    rec = {
        "workload": "event_analytics", "cores": 4, "setup": {"create_s": 1.0, "warmup_s": 2.0}, "wall_s": 3.0,
        "calls": calls, "rss": {"jvm_mb": 90.0, "python_mb": 10.0}, "layer_s": {}, "self_s": {},
        "state": {"observed": None, "partitioned_files": None, "bronze_bytes": None},
        "spark": {"total": dict.fromkeys(trace.EXEC_KEYS, 0.0), "groups": {}},
    }
    if traced:
        return set(run.per_layer(rec, {"manifest": {}}, 2.5))
    return set(run.end_to_end(rec))


def test_printed_metric_names_match_benchmark_json():
    assert _printed_metrics(False) == {m["name"] for m in BENCH["end_to_end"]}
    assert _printed_metrics(True) == {m["name"] for m in BENCH["per_layer"]}


def _rime_record(report_walls: list[float]) -> dict:
    calls = [
        {"name": step, "rep": rep, "wall_s": wall / len(workloads.REPORT_STEPS), "ok": True,
         "error": None, "rows": 0, "drain": False, "pin_reads": [], "touches": []}
        for rep, wall in enumerate(report_walls)
        for step, _ in workloads.REPORT_STEPS
    ] + [
        {"name": step, "rep": len(report_walls) - 1, "wall_s": 1.5, "ok": True, "error": None,
         "rows": 0, "drain": False, "pin_reads": [], "touches": []}
        for step, _ in workloads.REPLAY_STEPS
    ]
    return {
        "workload": "rime_logs", "cores": 4, "setup": {"create_s": 1.0, "warmup_s": 2.0},
        "wall_s": sum(c["wall_s"] for c in calls), "calls": calls,
        "rss": {"jvm_mb": 90.0, "python_mb": 10.0},
        "layer_s": {"sources.ingest": 6.0, "sources.ordered_scan": 1.5},
        "self_s": {"sources.ingest": 6.0, "sources.ordered_scan": 1.5},
        "state": {"observed": {"n_corrupt": 3}, "partitioned_files": 2, "bronze_bytes": 10},
        "spark": {"total": dict.fromkeys(trace.EXEC_KEYS, 0.0), "groups": {}},
    }


def test_time_to_report_is_the_median_report():
    rec = _rime_record([3.0, 1.0, 2.0, 2.5, 1.5])
    assert run.end_to_end(rec)["time_to_report_s"][0] == pytest.approx(2.0)


def test_rime_report_layers_read_per_report():
    m = run.per_layer(_rime_record([2.0] * workloads.REPORT_REPEATS), {"manifest": {"bytes": 2**20}}, 9.0)
    assert set(m) == {x["name"] for x in BENCH["per_layer"]}
    assert m["sources.ingest_s"][0] == pytest.approx(6.0 / workloads.REPORT_REPEATS)
    assert m["self.sources.ingest_s"][0] == pytest.approx(6.0 / workloads.REPORT_REPEATS)
    assert m["sources.ordered_scan_s"][0] == pytest.approx(1.5)
    assert m["sources.corrupt_rows"][0] == 3


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    v, pct, n = run.tail([float(i) for i in range(1, 51)])
    assert (v, pct, n) == (40.0, 80.0, 50)
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_runner_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the runner exits
    non-zero and prints no result."""
    import shutil

    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "rime_logs", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
