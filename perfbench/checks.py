"""Correctness references for the benchmark, computed outside every
timed region and cached per seed.

- Registered queries: each result is reduced to a fingerprint (sorted
  column names, row count, digest of the sorted canonical rows) and
  compared with the same fingerprint of the query's DuckDB oracle SQL
  (``operators.all_oracles()``) run over the same generated parquet.
  The canonical form follows the repository's exact-equality
  comparator: NaN, NaT and NULL are one value, an integral float equals
  the integer, sequences compare element-wise.
- The rime log: a plain-Python reading of the reference CLI
  (``rime-logger analyze`` and ``export-misses``, cli.py:268-359): the
  accuracy summary, the misses report in its (frequency DESC, input ASC)
  order, the as-of replay of each commit's prior input state, and the
  number of malformed lines.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import zlib
from pathlib import Path

import numpy as np

from . import gen

_NULL = "\x00"


def _canon(v) -> str:
    if v is None:
        return _NULL
    if isinstance(v, (bool, np.bool_)):
        return "T" if v else "F"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return _NULL
        return str(int(f)) if f.is_integer() and abs(f) < 2**63 else repr(f)
    if isinstance(v, str):
        return json.dumps(v, ensure_ascii=False)
    if isinstance(v, dict):
        return "{" + ",".join(f"{_canon(k)}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    # pandas Timestamp / NaT, datetime, date
    try:
        import pandas as pd

        if v is pd.NaT:
            return _NULL
        if isinstance(v, pd.Timestamp):
            return v.isoformat()
    except ImportError:  # pragma: no cover
        pass
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    return repr(v)


def fingerprint(pdf) -> dict:
    """Order-insensitive fingerprint of a pandas frame."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_canon(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return {"columns": cols, "rows": len(rows), "digest": h.hexdigest()}


def oracle_fingerprints(
    names: list[str], tables_dir: Path, cache_file: Path
) -> dict[str, dict]:
    """DuckDB oracle fingerprint per query name, cached in ``cache_file``."""
    cached = json.loads(cache_file.read_text()) if cache_file.exists() else {}
    missing = [n for n in names if n not in cached]
    if missing:
        import duckdb

        from rime_wanxiang_logger_spark.operators import all_oracles

        sql = all_oracles()
        con = duckdb.connect()
        con.execute("SET threads TO 4")
        for t in gen.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'"
            )
        for n in missing:
            cached[n] = fingerprint(con.sql(sql[n]).df())
        con.close()
        tmp = cache_file.with_suffix(".tmp")
        tmp.write_text(json.dumps(cached, indent=0))
        tmp.rename(cache_file)
    return {n: cached[n] for n in names}


def describe_mismatch(got: dict, want: dict) -> str:
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != oracle {want['columns']}"
    if got["rows"] != want["rows"]:
        return f"{got['rows']} rows != oracle {want['rows']}"
    return "values differ from the oracle"


# --- rime log reference ----------------------------------------------------

_STR_FIELDS = (
    "event_type timestamp schema_id committed_text input_sequence_at_commit "
    "selection_method source_input_buffer source_first_candidate "
    "source_event_timestamp event_subtype key_action input_buffer "
    "first_candidate component message"
).split()
_ARRAY_FIELDS = ("source_candidates_list", "candidates")


def _parse(line: str) -> dict | None:
    """One log line as the Go consumer's json.Unmarshal would accept it
    (analyzer.go:64-74): blank, unparseable or wrong-typed lines are
    rejected whole."""
    if not line.strip():
        return None
    try:
        obj = json.loads(line)
    except ValueError:
        return None
    if not isinstance(obj, dict) or obj.get("event_type") is None:
        return None
    for k in _STR_FIELDS:
        if obj.get(k) is not None and not isinstance(obj[k], str):
            return None
    for k in _ARRAY_FIELDS:
        v = obj.get(k)
        if v is not None and not (isinstance(v, list) and all(isinstance(x, str) for x in v)):
            return None
    rank = obj.get("selected_candidate_rank")
    if rank is not None and (isinstance(rank, bool) or not isinstance(rank, int)):
        return None
    if obj.get("has_menu") is not None and not isinstance(obj["has_menu"], bool):
        return None
    return obj


def _null_first(v):
    return (0, "") if v is None else (1, v)


def misses_sort_key(row: tuple) -> tuple:
    """Report order: err_freq DESC, user_input ASC (cli.py:348), then the
    remaining columns so ties are total. NULLs first, as Spark sorts."""
    user_input, actual, predicted, rank, freq = row
    return (-freq, _null_first(user_input), _null_first(actual), _null_first(predicted), rank)


def replay_row_crc(ingest_id: int, session_id: int, buf, first, cands) -> int:
    """CRC-32 of one replayed commit, the per-row term of the replay
    fingerprint (Spark computes the same with ``crc32``)."""
    s = "|".join(
        [
            str(ingest_id),
            str(session_id),
            _NULL if buf is None else buf,
            _NULL if first is None else first,
            _NULL if cands is None else ",".join(cands),
        ]
    )
    return zlib.crc32(s.encode("utf-8"))


def rime_reference(logs_dir: Path, cache_file: Path) -> dict:
    """What a correct engine reports for the log in ``logs_dir``."""
    if cache_file.exists():
        return json.loads(cache_file.read_text())
    files = sorted(logs_dir.glob("*.jsonl"))
    commits: list[dict] = []
    corrupt = 0
    dates: set[str] = set()
    clean_rows = 0
    replay_n = 0
    replay_crc = 0
    session = 0
    last: dict[str, object] = {}
    for fi, p in enumerate(files):
        with open(p, encoding="utf-8") as f:
            for ln, raw in enumerate(f):
                line = raw.rstrip("\n")
                if not line.strip():
                    continue
                ev = _parse(line)
                if ev is None:
                    corrupt += 1
                    continue
                clean_rows += 1
                if ev.get("timestamp"):
                    dates.add(ev["timestamp"][:10])
                et = ev["event_type"]
                if et == "session_start":
                    session += 1
                    last = {}
                elif et == "input_state_changed":
                    for k in ("input_buffer", "first_candidate", "candidates"):
                        if ev.get(k) is not None:
                            last[k] = ev[k]
                elif et == "text_committed":
                    commits.append(ev)
                    replay_n += 1
                    replay_crc += replay_row_crc(
                        (fi << 32) | ln, session, last.get("input_buffer"),
                        last.get("first_candidate"), last.get("candidates"),
                    )
    ranks = [c.get("selected_candidate_rank") for c in commits]
    valid = [r for r in ranks if r is not None and r >= 0]
    total = len(ranks)
    summary = {
        "total_commits": total,
        "valid_selections": len(valid),
        "first_choice_count": sum(1 for r in valid if r == 0),
        "top3_count": sum(1 for r in valid if r < 3),
        "first_choice_rate": sum(1 for r in valid if r == 0) / len(valid) if valid else None,
        "top3_rate": sum(1 for r in valid if r < 3) / len(valid) if valid else None,
        "avg_rank": sum(valid) / len(valid) if valid else None,
        "overall_score": math.fsum(1.0 / (r + 1) for r in valid) / len(valid) if valid else None,
        "direct_count": sum(1 for r in ranks if r == -1),
        "direct_rate": sum(1 for r in ranks if r == -1) / total if total else None,
    }
    misses = [
        (c.get("source_input_buffer"), c.get("committed_text"), c.get("source_first_candidate"), c["selected_candidate_rank"])
        for c in commits
        if c.get("selected_candidate_rank") is not None and c["selected_candidate_rank"] > 0
    ]
    freq: dict = {}
    for m in misses:
        freq[m[1]] = freq.get(m[1], 0) + 1
    report = sorted((m + (freq[m[1]],) for m in misses), key=misses_sort_key)
    ref = {
        "summary": summary,
        "misses": report,
        "corrupt_rows": corrupt,
        "clean_rows": clean_rows,
        "event_dates": len(dates),
        "replay": {"commits": replay_n, "crc_sum": replay_crc},
    }
    cache_file.write_text(json.dumps(ref, ensure_ascii=False))
    return json.loads(cache_file.read_text())
