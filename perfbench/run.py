#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one timed pass.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see ``BENCHMARK.json`` and ``perfbench/workloads.py``):
``rime_logs``, ``event_analytics``, ``llm_curation``.

Load is closed-loop with one client: this process issues one call at a
time into one ``local[nproc]`` session. A run:

1. generates the seed's inputs and their correctness references (cached
   per seed under ``.bench_build/perfbench``; never timed);
2. sets up once: session creation, which launches the JVM, plus a
   warm-up (``setup_s``). A process launches its JVM only once, so a
   second setup in the same run would time a different, warm path; the
   spread of ``setup_s`` is taken across runs instead;
3. runs one fixed-work timed pass, holding every result (``rime_logs``
   makes its report ``workloads.REPORT_REPEATS`` times in the pass, and
   ``time_to_report_s`` is their median);
4. checks every result, then stops Spark and the JVM.

``--seconds`` is recorded but does not stretch the pass: each run does
the same fixed work, so runs compare by their walls.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` prints the
per-layer metrics: it runs the pass with Spark job groups, a separate
planning step, the Spark event log and a streaming listener, and
subtracts the untraced wall of the same workload and seed (this
checkout's earlier untraced run, or an untraced pass made first in its
own JVM) to report the tracing overhead.

The last stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}``; lines before it
describe the host state, failing calls and the tail percentile.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CACHE = ROOT / ".bench_build" / "perfbench"
DRIVER_MEMORY = "2g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples): the highest percentile with at least
    ten samples beyond it; below eleven samples, the maximum."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def stop_jvm() -> None:
    """Stop the active session, then the JVM PySpark launched, and wait
    for it to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the gateway may already be gone
        pass
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def prepare(workload: str, seed: int) -> dict:
    """Inputs and correctness references for one run (cached per seed)."""
    from perfbench import checks, gen, workloads

    if workload == "rime_logs":
        logs, manifest = gen.rime(seed, CACHE)
        ref = checks.rime_reference(logs, logs.parent / "reference.json")
        return {"logs": logs, "manifest": manifest, "ref": ref}
    tables_dir, manifest = gen.tables(seed, CACHE)
    names = workloads.plan(workload, seed)
    oracle = checks.oracle_fingerprints(names, tables_dir, tables_dir.parent / "oracle.json")
    return {"tables": tables_dir, "manifest": manifest, "names": names, "oracle": oracle}


def warm_up(spark, workload: str, inputs: dict, work: Path) -> None:
    """Move the JVM's first-use costs out of the timed pass.

    ``rime_logs`` runs its own steps (``workloads.warm_rime``). The
    suites start the Python worker pool, run one small
    query of each common shape (scan, aggregate, join, window, Arrow
    collect) and scan each table once, as ``bench.py`` does; nothing
    there depends on a table being cold or warm in a particular way."""
    from pyspark.sql import Window, functions as F

    if workload == "rime_logs":
        from perfbench.workloads import warm_rime
        from rime_wanxiang_logger_spark.sources.jsonl_source import make_rime_jsonl_datasource

        spark.dataSource.register(make_rime_jsonl_datasource())
        warm_rime(spark, inputs["logs"], work / "warm")
        return
    cores = spark.sparkContext.defaultParallelism
    df = spark.range(0, 20_000, 1, cores).withColumn("k", F.col("id") % 97)
    df.mapInPandas(lambda it: it, schema="id long, k long").write.format("noop").mode("overwrite").save()
    agg = df.groupBy("k").agg(F.count("*").alias("n"), F.sum("id").alias("s"))
    (
        df.join(agg, "k")
        .withColumn("r", F.row_number().over(Window.partitionBy("k").orderBy(F.desc("id"))))
        .where("r <= 3")
        .toPandas()
    )
    for p in sorted(inputs["tables"].glob("*.parquet")):
        spark.read.parquet(str(p)).count()


def measure(workload: str, seed: int, inputs: dict, traced: bool, work: Path) -> dict:
    """Set up, run one timed pass, check it, stop Spark and the JVM."""
    from perfbench import host, trace, workloads
    from rime_wanxiang_logger_spark.session import get_spark

    for d in ("tmp", "local", "out"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    import tempfile

    tempfile.tempdir = str(work / "tmp")
    # every JVM spark-submit starts keeps its temp files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    conf = {"spark.sql.warehouse.dir": str(work / "warehouse")}
    if traced:
        (work / "eventlog").mkdir(exist_ok=True)
        conf.update(trace.event_log_conf(str(work / "eventlog")))

    probes = [host.cpu_probe()]
    load_before = host.loadavg()
    try:
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{workload}", extra_conf=conf)
        t1 = time.perf_counter()
        warm_up(spark, workload, inputs, work)
        setup = {"create_s": t1 - t0, "warmup_s": time.perf_counter() - t1}
        sc = spark.sparkContext
        cores = sc.defaultParallelism
        tr = trace.Trace(sc=sc, traced=traced)
        listener = None
        if traced and workload != "rime_logs":
            listener = trace.make_listener()
            spark.streams.addListener(listener)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        probes.append(host.cpu_probe())
        for pid in (jvm_pid, os.getpid()):
            host.reset_peak_rss(pid)

        ticks = host.cpu_ticks()
        t0_ms = time.time() * 1000
        t0 = time.perf_counter()
        state: dict = {}
        with tr.span("pass", "harness"):
            if workload == "rime_logs":
                calls, state = workloads.run_rime(spark, tr, inputs["logs"], work / "out")
            else:
                from rime_wanxiang_logger_spark.operators._stage_cache import sharing

                with sharing():
                    calls = workloads.run_queries(spark, tr, inputs["names"], str(inputs["tables"]))
        wall = time.perf_counter() - t0
        t1_ms = time.time() * 1000
        steal = host.steal_share(ticks, host.cpu_ticks())
        rss = {"jvm_mb": host.peak_rss_mb(jvm_pid), "python_mb": host.peak_rss_mb(os.getpid())}
        if listener is not None:
            listener.settle()

        if workload == "rime_logs":
            failures = workloads.check_rime(spark, calls, state, inputs["ref"], inputs["manifest"])
            state["bronze_bytes"] = sum(
                p.stat().st_size for p in Path(state["reports"][-1]["paths"]["bronze"]).rglob("*.parquet")
            )
        else:
            failures = workloads.check_queries(calls, inputs["oracle"])
        probes.append(host.cpu_probe())
        app_id = sc.applicationId
    finally:
        stop_jvm()

    out = {
        "workload": workload,
        "seed": seed,
        "traced": traced,
        "cores": cores,
        "setup": setup,
        "wall_s": wall,
        "calls": [
            {"name": c.name, "wall_s": c.wall_s, "ok": c.ok, "error": c.error, "rows": c.rows,
             "drain": c.drain, "rep": c.rep,
             "pin_reads": c.pin_reads, "touches": c.touches}
            for c in calls
        ],
        "failures": failures,
        "rss": rss,
        "host": {"loadavg_before": load_before, "loadavg_after": host.loadavg(),
                 "pass_steal_share": steal, **host.verdict(probes)},
        "spans": tr.dump(),
        "self_s": tr.self_times(),
        "layer_s": {layer: tr.total(layer) for layer in {s.layer for s in tr.spans}},
        "state": {k: state.get(k) for k in ("observed", "partitioned_files", "bronze_bytes")},
    }
    if traced:
        out["spark"] = trace.fold_event_log(str(work / "eventlog"), app_id, t0_ms, t1_ms)
        if listener is not None:
            out["streaming"] = trace.fold_progress(listener.progress)
    return out


# --- metrics ---------------------------------------------------------------


def end_to_end(rec: dict) -> dict:
    if rec["workload"] == "rime_logs":
        from perfbench.workloads import REPORT_STEPS

        steps = {step for step, _ in REPORT_STEPS}
        reports: dict[int, float] = {}
        for c in rec["calls"]:
            if c["name"] in steps:
                reports[c["rep"]] = reports.get(c["rep"], 0.0) + c["wall_s"]
        to_report = statistics.median(reports.values())
    else:
        to_report = rec["wall_s"]
    return {
        "setup_s": (rec["setup"]["create_s"] + rec["setup"]["warmup_s"], "s"),
        "wall_s": (rec["wall_s"], "s"),
        "time_to_report_s": (to_report, "s"),
    }


SELF_LAYERS = (
    "harness", "operators", "spark.plan", "spark.exec", "streaming",
    "sources.ingest", "sources.ordered_scan", "sources.partitioned_write",
    "rime.summary", "rime.misses_report", "rime.asof_replay", "misses.export_csv",
)


#: Spans whose time is Spark execution: the suites' collect phase and the
#: rime_logs steps that run jobs (everything but building the report).
EXEC_LAYERS = (
    "spark.exec", "sources.ingest", "sources.ordered_scan", "sources.partitioned_write",
    "rime.summary", "rime.asof_replay", "misses.export_csv",
)


def per_layer(rec: dict, inputs: dict, untraced_wall: float) -> dict:
    """Per-layer metrics of a traced run. ``spark.core_busy_ratio`` is
    executor run time over (pass wall x cores); ``trace.overhead_s`` is
    this traced wall minus the untraced wall of the same workload and
    seed. A rime_logs pass makes ``REPORT_REPEATS`` reports, so the
    report steps' layers (time and self time) read per report: the
    pass's total over the number of reports."""
    from perfbench.workloads import REPORT_REPEATS, REPORT_STEPS

    per_report = {lay for _, lay in REPORT_STEPS} if rec["workload"] == "rime_logs" else set()

    def one_report(times: dict) -> dict:
        return {k: v / REPORT_REPEATS if k in per_report else v for k, v in times.items()}

    walls = [c["wall_s"] for c in rec["calls"]]
    layer = one_report(rec["layer_s"])
    self_s = one_report(rec["self_s"])
    m: dict[str, tuple[float, str]] = {
        "query.p50_s": (statistics.median(walls), "s"),
        "query.tail_s": (tail(walls)[0], "s"),
        "session.create_s": (rec["setup"]["create_s"], "s"),
        "session.warmup_s": (rec["setup"]["warmup_s"], "s"),
        "driver.peak_rss_mb": (rec["rss"]["jvm_mb"] + rec["rss"]["python_mb"], "MB"),
        "driver.jvm_peak_rss_mb": (rec["rss"]["jvm_mb"], "MB"),
        "driver.python_peak_rss_mb": (rec["rss"]["python_mb"], "MB"),
    }
    ingest_s = layer.get("sources.ingest", 0.0)
    in_bytes = inputs["manifest"]["bytes"] if rec["workload"] == "rime_logs" else 0
    bronze_bytes = rec["state"]["bronze_bytes"] or 0
    m.update({
        "sources.ingest_s": (ingest_s, "s"),
        "sources.ingest_mb_per_s": (in_bytes / 2**20 / ingest_s if ingest_s else 0.0, "MB/s"),
        "sources.bronze_bytes_per_input_byte": (bronze_bytes / in_bytes if in_bytes else 0.0, "ratio"),
        "sources.corrupt_rows": ((rec["state"]["observed"] or {}).get("n_corrupt", 0), "count"),
        "sources.ordered_scan_s": (layer.get("sources.ordered_scan", 0.0), "s"),
        "sources.partitioned_write_s": (layer.get("sources.partitioned_write", 0.0), "s"),
        "sources.partitioned_files": (rec["state"]["partitioned_files"] or 0, "count"),
        "rime.summary_s": (layer.get("rime.summary", 0.0), "s"),
        "rime.misses_report_s": (layer.get("rime.misses_report", 0.0), "s"),
        "misses.export_csv_s": (layer.get("misses.export_csv", 0.0), "s"),
        "rime.asof_replay_s": (layer.get("rime.asof_replay", 0.0), "s"),
    })
    groups = rec["spark"]["groups"]
    build_jobs = sum(g["jobs"] for k, g in groups.items() if k and k.endswith(":build"))
    m["operators.build_s"] = (layer.get("operators", 0.0), "s")
    m["operators.build_jobs"] = (build_jobs, "count")
    m["spark.plan_s"] = (layer.get("spark.plan", 0.0), "s")
    m["spark.exec_s"] = (sum(rec["layer_s"].get(k, 0.0) for k in EXEC_LAYERS), "s")
    sp = rec["spark"]["total"]
    units = {"executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s"}
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes"):
        m[f"spark.{k}"] = (sp[k], units.get(k, "bytes" if k.endswith("bytes") else "count"))
    m["spark.core_busy_ratio"] = (
        sp["executor_run_s"] / (rec["wall_s"] * rec["cores"]) if rec["wall_s"] else 0.0, "ratio"
    )
    touches = sum(len(c["touches"]) for c in rec["calls"])
    reads = sum(len(c["pin_reads"]) for c in rec["calls"])
    m["stage_cache.touches"] = (touches, "count")
    m["stage_cache.pin_reads"] = (reads, "count")
    m["stage_cache.hit_ratio"] = (reads / touches if touches else 0.0, "ratio")
    st = rec.get("streaming") or {}
    drain_s = layer.get("streaming", 0.0)
    m["streaming.drain_s"] = (drain_s, "s")
    for k in ("batches", "trigger_s", "add_batch_s", "planning_s", "wal_commit_s", "state_commit_s", "state_rows", "state_bytes"):
        m[f"streaming.{k}"] = (st.get(k, 0), "s" if k.endswith("_s") else ("bytes" if k.endswith("bytes") else "count"))
    m["streaming.sink_rows"] = (sum(c["rows"] for c in rec["calls"] if c["drain"]), "count")
    m["streaming.fixed_s"] = (drain_s - st.get("trigger_s", 0.0) if st else 0.0, "s")
    for lay in SELF_LAYERS:
        m[f"self.{lay}_s"] = (self_s.get(lay, 0.0), "s")
    m["trace.overhead_s"] = (rec["wall_s"] - untraced_wall, "s")
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "rime_wanxiang_logger_spark" / "__init__.py").is_file():
        print(f"perfbench: no engine source under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    CACHE.mkdir(parents=True, exist_ok=True)
    inputs = prepare(args.workload, args.seed)
    runs = CACHE / "runs"
    runs.mkdir(exist_ok=True)
    record_file = runs / f"{args.workload}-seed{args.seed}.json"
    work = CACHE / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        if args.trace:
            if record_file.exists():
                untraced_wall = json.loads(record_file.read_text())["wall_s"]
            else:
                untraced_wall = measure(args.workload, args.seed, inputs, False, work / "untraced")["wall_s"]
            rec = measure(args.workload, args.seed, inputs, True, work / "traced")
        else:
            rec = measure(args.workload, args.seed, inputs, False, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    rec["seconds"] = args.seconds
    metrics = per_layer(rec, inputs, untraced_wall) if args.trace else end_to_end(rec)
    if not args.trace:
        record_file.write_text(json.dumps(rec))
    else:
        (runs / f"{args.workload}-seed{args.seed}-traced.json").write_text(json.dumps(rec))

    attempted = len(rec["calls"])
    failed = sum(1 for c in rec["calls"] if not c["ok"])
    walls = [c["wall_s"] for c in rec["calls"]]
    tail_v, tail_pct, n = tail(walls)
    print(f"# workload={args.workload} seed={args.seed} calls={attempted} "
          f"failed_ratio={failed / attempted:.4f} query_p50_s={statistics.median(walls):.4f} "
          f"query_tail_s={tail_v:.4f} (p{tail_pct:.0f} of {n} calls) "
          f"driver_peak_rss_mb={rec['rss']['jvm_mb'] + rec['rss']['python_mb']:.0f}")
    for f in rec["failures"]:
        print(f"# FAILED {f}")
    print("# host " + json.dumps(rec["host"]))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
