"""The workloads: which calls each makes, and how each is checked.

Suite membership is a rule over the registry, not a list of names:

- ``llm_curation``: registered queries whose oracle SQL reads
  ``documents`` or ``embeddings``.
- ``event_analytics``: every other registered query (``events`` and the
  star tables).

The seven availableNow drains are registered queries too, so each lands
in the suite its tables pick; a query whose own source starts a
Structured Streaming query (``.writeStream``) is a drain, and its build
call is timed as the ``streaming`` layer.

Suites run under ``sharing()`` in query-number order, which is the
registry's inventory order, so a stage provider runs before the
compositions that read its pin. A suite is split into cost-balanced
shards (``SHARDS``); a run executes shard ``seed % shards``, so every
query runs on some seed and each run does about the same work. Shards
are built from ``calibration.json`` (per-query cost and the pinned
stages each query touches): queries linked through a shared stage stay
in one shard, and linked groups go largest first onto the lightest
shard.
"""

from __future__ import annotations

import inspect
import json
import re
import time
from dataclasses import dataclass, field
from pathlib import Path

SUITES = ("event_analytics", "llm_curation")
WORKLOADS = ("rime_logs",) + SUITES
SHARDS = {"event_analytics": 4, "llm_curation": 4}
CALIBRATION = Path(__file__).with_name("calibration.json")


def suite_of(oracle_sql: str) -> str:
    if re.search(r"\b(documents|embeddings)\b", oracle_sql):
        return "llm_curation"
    return "event_analytics"


def is_drain(fn) -> bool:
    return ".writeStream" in inspect.getsource(fn)


def _number_key(name: str) -> tuple[int, str]:
    return int(re.match(r"q(\d+)", name).group(1)), name


def suites() -> dict[str, list[str]]:
    """Every registered query, by suite, in query-number order."""
    from rime_wanxiang_logger_spark.operators import all_oracles, all_queries

    oracles = all_oracles()
    out: dict[str, list[str]] = {s: [] for s in SUITES}
    for name in all_queries():
        out[suite_of(oracles[name])].append(name)
    return {s: sorted(v, key=_number_key) for s, v in out.items()}


def shards(members: list[str], k: int, calibration: dict) -> list[list[str]]:
    """Split ``members`` into ``k`` shards of about equal calibrated cost,
    keeping queries that touch a common pinned stage together."""
    parent = {m: m for m in members}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    owner: dict[str, str] = {}
    for m in members:
        for stage in calibration.get("stages", {}).get(m, []):
            if stage in owner:
                parent[find(m)] = find(owner[stage])
            else:
                owner[stage] = m
    groups: dict[str, list[str]] = {}
    for m in members:
        groups.setdefault(find(m), []).append(m)
    costs = calibration.get("cost_s", {})
    default = sorted(costs.values())[len(costs) // 2] if costs else 1.0

    def cost(g):
        return sum(costs.get(m, default) for m in g)

    out: list[list[str]] = [[] for _ in range(k)]
    load = [0.0] * k
    for g in sorted(groups.values(), key=lambda g: (-cost(g), _number_key(g[0]))):
        i = min(range(k), key=lambda j: (load[j], j))
        out[i] += g
        load[i] += cost(g)
    return [sorted(s, key=_number_key) for s in out]


def plan(workload: str, seed: int) -> list[str]:
    """The registered queries one run of ``workload`` executes."""
    members = suites()[workload]
    k = SHARDS[workload]
    calibration = json.loads(CALIBRATION.read_text()) if CALIBRATION.exists() else {}
    return shards(members, k, calibration)[seed % k]


# --- running ---------------------------------------------------------------


@dataclass
class Call:
    name: str
    wall_s: float = 0.0
    error: str | None = None
    result: object = None  # kept until the pass ends, then checked
    pin_reads: list[str] = field(default_factory=list)
    touches: list[str] = field(default_factory=list)
    rows: int = 0
    drain: bool = False
    ok: bool = False
    rep: int = 0  # which of a rime_logs pass's reports the call belongs to


def _error(e: Exception) -> str:
    first = str(e).splitlines()[0][:300] if str(e) else ""
    return f"{type(e).__name__}: {first}"


def run_queries(spark, tr, names: list[str], sf_dir: str) -> list[Call]:
    """One timed call per query: build the DataFrame (the registered
    ``fn(spark, sf_dir)``; for a drain, the whole drain), plan it (traced
    runs only), collect it."""
    from rime_wanxiang_logger_spark.operators import all_queries
    from rime_wanxiang_logger_spark.operators._stage_cache import recording, stage_trace

    registry = all_queries()
    calls = []
    for name in names:
        c = Call(name)
        c.drain = is_drain(registry[name])
        build_layer = "streaming" if c.drain else "operators"
        t0 = time.perf_counter()
        try:
            with tr.span(name, "harness"):
                with recording(c.pin_reads), stage_trace(c.touches):
                    with tr.span(f"{name}:build", build_layer, f"{name}:build"):
                        df = registry[name](spark, sf_dir)
                if tr.traced:
                    with tr.span(f"{name}:plan", "spark.plan", f"{name}:plan"):
                        df._jdf.queryExecution().executedPlan()
                with tr.span(f"{name}:exec", "spark.exec", f"{name}:exec"):
                    c.result = df.toPandas()
        except Exception as e:  # a failing query is counted, not fatal
            c.error = _error(e)
        c.wall_s = time.perf_counter() - t0
        calls.append(c)
    return calls


def check_queries(calls: list[Call], oracle: dict[str, dict]) -> list[str]:
    from .checks import describe_mismatch, fingerprint

    failures = []
    for c in calls:
        if c.error is None:
            c.rows = len(c.result)
            got = fingerprint(c.result)
            c.ok = got == oracle[c.name]
            if not c.ok:
                c.error = describe_mismatch(got, oracle[c.name])
        c.result = None
        if not c.ok:
            failures.append(f"{c.name}: {c.error}")
    return failures


# --- rime_logs -------------------------------------------------------------

REPORT_STEPS = (
    ("ingest", "sources.ingest"),
    ("summary", "rime.summary"),
    ("misses_report", "rime.misses_report"),
    ("export_csv", "misses.export_csv"),
)
REPLAY_STEPS = (
    ("ordered_scan", "sources.ordered_scan"),
    ("asof_replay", "rime.asof_replay"),
    ("partitioned_write", "sources.partitioned_write"),
)
#: Reports (``analyze`` + ``export-misses``) one pass makes in a row, each
#: from the log on disk into its own output; ``time_to_report_s`` is the
#: median of their walls.
REPORT_REPEATS = 3
#: Untimed reports the warm-up makes over the whole log. After one, the
#: timed reports still got faster one after another (1.7, 1.5, 1.4 s).
WARM_REPORTS = 2


def _rime_steps(spark, logs: str, out_dir: Path, st: dict) -> dict:
    """The rime_logs steps over ``logs`` (a log file or directory), by
    name, writing under ``out_dir``; results land in ``st``."""
    from pyspark.sql import Window, functions as F

    from rime_wanxiang_logger_spark.operators.misses import export_misses_csv
    from rime_wanxiang_logger_spark.operators.rime import (
        accuracy_summary,
        asof_replay,
        misses_report,
    )
    from rime_wanxiang_logger_spark.sources.layout import write_events_partitioned
    from rime_wanxiang_logger_spark.sources.readers import (
        ingest_rime_jsonl_observed,
        rime_events_clean,
    )

    st["paths"] = paths = {
        "bronze": str(out_dir / "bronze"),
        "silver": str(out_dir / "ordered"),
        "lake": str(out_dir / "events_by_date"),
        "csv": str(out_dir / "misses.csv"),
    }

    def ingest():
        st["bronze"], st["obs"] = ingest_rime_jsonl_observed(spark, logs, paths["bronze"])
        st["clean"] = rime_events_clean(st["bronze"])

    def summary():
        st["summary"] = accuracy_summary(st["clean"]).collect()[0].asDict()
        st["observed"] = st["obs"].get

    def report():
        order = [F.desc("err_freq")] + [F.asc(c) for c in ("user_input", "actual_choice", "predicted", "selected_rank")]
        st["report"] = misses_report(st["clean"]).withColumn(
            "report_pos", F.row_number().over(Window.orderBy(*order))
        )

    def export():
        export_misses_csv(st["report"], paths["csv"])

    def ordered_scan():
        (
            spark.read.format("rime_jsonl").option("path", logs).load()
            .write.mode("overwrite").parquet(paths["silver"])
        )

    def replay():
        r = asof_replay(spark.read.parquet(paths["silver"]))
        null = F.lit("\x00")
        row = F.concat_ws(
            "|",
            F.col("ingest_id").cast("string"),
            F.col("session_id").cast("string"),
            F.coalesce("replayed_buffer", null),
            F.coalesce("replayed_first", null),
            F.coalesce(F.array_join("replayed_candidates", ","), null),
        )
        st["replay"] = r.agg(
            F.count(F.lit(1)).alias("commits"), F.sum(F.crc32(row)).alias("crc_sum")
        ).collect()[0].asDict()

    def lake():
        write_events_partitioned(st["clean"], paths["lake"])

    return {
        "ingest": ingest, "summary": summary, "misses_report": report,
        "export_csv": export, "ordered_scan": ordered_scan,
        "asof_replay": replay, "partitioned_write": lake,
    }


def warm_rime(spark, logs_dir: Path, out_dir: Path) -> None:
    """Untimed and unchecked: every rime_logs step once over the log's
    first rotated file, then ``WARM_REPORTS`` reports over the whole log.
    The JIT keeps speeding the report up over its first few runs; the
    timed reports should start near steady state."""
    first = sorted(logs_dir.glob("*.jsonl"))[0]
    for step in _rime_steps(spark, str(first), out_dir, {}).values():
        step()
    for _ in range(WARM_REPORTS):
        steps = _rime_steps(spark, str(logs_dir), out_dir, {})
        for step, _layer in REPORT_STEPS:
            steps[step]()


def run_rime(spark, tr, logs_dir: Path, out_dir: Path) -> tuple[list[Call], dict]:
    """The paper's user path over the JSONL log: ``REPORT_REPEATS``
    reports (analyze, export-misses), then the ordered replay and the
    date-partitioned lake write over the last report's events."""
    reports = [{} for _ in range(REPORT_REPEATS)]
    steps = [_rime_steps(spark, str(logs_dir), out_dir / f"report{rep}", st) for rep, st in enumerate(reports)]
    plan = [(rep, step, layer) for rep in range(REPORT_REPEATS) for step, layer in REPORT_STEPS]
    plan += [(REPORT_REPEATS - 1, step, layer) for step, layer in REPLAY_STEPS]
    calls = []
    failed = False
    for rep, step, layer in plan:
        c = Call(step, rep=rep)
        t0 = time.perf_counter()
        if failed:
            c.error = "skipped: an earlier step failed"
        else:
            try:
                with tr.span(step, layer, f"{step}:exec"):
                    steps[rep][step]()
            except Exception as e:
                c.error = _error(e)
                failed = True
        c.wall_s = time.perf_counter() - t0
        calls.append(c)
    return calls, {"reports": reports, "observed": reports[-1].get("observed")}


def check_rime(spark, calls: list[Call], state: dict, ref: dict, manifest: dict) -> list[str]:
    """Compare every rime_logs output, each report's included, with the
    plain-Python reference."""
    import csv
    import math

    by = {(c.rep, c.name): c for c in calls}
    problems: dict[tuple[int, str], str] = {}
    want_csv = [
        ["" if v is None else str(v) for v in m] + [str(i + 1)]
        for i, m in enumerate(ref["misses"])
    ]

    def check(rep, step, ok, why):
        if by[rep, step].error is None and not ok:
            problems[rep, step] = why

    for rep, st in enumerate(state["reports"]):
        if by[rep, "summary"].error is None:
            corrupt = st["observed"]["n_corrupt"]
            check(rep, "ingest", corrupt == ref["corrupt_rows"] == manifest["corrupt_expected"],
                  f"corrupt rows {corrupt}, planted {manifest['corrupt_expected']}, reference {ref['corrupt_rows']}")
            got, want = st["summary"], ref["summary"]
            bad = [
                k for k, w in want.items()
                if not (got[k] == w or (isinstance(w, float) and got[k] is not None and math.isclose(got[k], w, rel_tol=1e-12)))
            ]
            check(rep, "summary", not bad, f"summary fields differ: {bad}")
        if by[rep, "export_csv"].error is None:
            with open(st["paths"]["csv"], "rb") as f:
                bom = f.read(3) == b"\xef\xbb\xbf"
            with open(st["paths"]["csv"], encoding="utf-8-sig", newline="") as f:
                got = [r[:6] for r in list(csv.reader(f))[1:]]
            check(rep, "export_csv", bom and got == want_csv,
                  f"misses CSV differs from the reference ({len(got)} rows vs {len(want_csv)}, bom={bom})")
    last = len(state["reports"]) - 1
    st = state["reports"][last]
    if by[last, "asof_replay"].error is None:
        check(last, "asof_replay", st["replay"] == ref["replay"],
              f"replay {st['replay']} != reference {ref['replay']}")
    if by[last, "partitioned_write"].error is None:
        lake = Path(st["paths"]["lake"])
        dates = len(list(lake.glob("event_date=*")))
        state["partitioned_files"] = len(list(lake.glob("event_date=*/*.parquet")))
        rows = spark.read.parquet(str(lake)).count()
        check(last, "partitioned_write", dates == ref["event_dates"] and rows == ref["clean_rows"],
              f"{dates} date partitions / {rows} rows, reference {ref['event_dates']} / {ref['clean_rows']}")
    failures = []
    for c in calls:
        if c.error is None and (c.rep, c.name) in problems:
            c.error = problems[c.rep, c.name]
        c.ok = c.error is None
        if not c.ok:
            failures.append(f"{c.name} (report {c.rep}): {c.error}")
    return failures
