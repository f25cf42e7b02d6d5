"""Seeded input generators for the four benchmark workloads.

Everything the program reads is written here, from ``--seed`` alone:

- ``tables``: the ten star-schema parquet tables the registered queries
  read (``region nation customer supplier part orders lineitem events
  documents embeddings``), with the sf0.01 row counts, key domains and
  column distributions of the shipped test data. Nothing is copied from
  that data; every value is drawn from the seed.
- ``rime``: a producer-format JSONL typing log (the
  ``input_habit_logger.lua`` tagged union) split into rotated files,
  with planted blank lines, truncated JSON and wrong-typed ranks.

Same seed, same bytes. Generation is cached per seed under the cache
directory and always runs before any timed region.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

#: Row counts of the shipped sf0.01 tables.
ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
EVENT_USERS = 150
EMBED_DIM = 64

#: Rotated log files and committed-typing sessions in the rime log.
RIME_FILES = 4
RIME_SESSIONS = 1_500

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "old", "red", "small", "big", "new"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "de", "zh", "fr", "es"]
_LANG_P = [0.43, 0.14, 0.15, 0.14, 0.14]


def _rng(seed: int, name: str) -> np.random.Generator:
    """One independent stream per (seed, table): adding a table never
    shifts another table's values."""
    digest = hashlib.sha256(f"{seed}:{name}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts, the granularity the engine's exact
    fixed-point aggregates are built for."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _dates(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n).astype("datetime64[D]")).astype(
        "datetime64[us]"
    )


def _build_tables(seed: int) -> dict[str, pa.Table]:
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    r, n = _rng(seed, "customer"), ROWS["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
            "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n)),
            "c_mktsegment": pa.array(np.array(_SEGMENTS)[r.integers(0, 5, n)]),
        }
    )

    r, n = _rng(seed, "supplier"), ROWS["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
            "s_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
            "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n)),
        }
    )

    r, n = _rng(seed, "part"), ROWS["part"]
    names = [
        f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
        for a, b in zip(r.integers(0, 8, n), r.integers(0, 8, n))
    ]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n), pa.int64()),
            "p_name": pa.array(names),
            "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n)]),
            "p_type": pa.array(np.array(_PART_TYPES)[r.integers(0, 6, n)]),
            "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2)
            ),
        }
    )

    r, n = _rng(seed, "orders"), ROWS["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(r.integers(0, ROWS["customer"], n), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, n)]),
            "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, n)),
            "o_orderdate": pa.array(
                _dates(r, "1995-01-01", "2001-08-01", n), pa.timestamp("us")
            ),
            "o_orderpriority": pa.array(np.array(_PRIORITIES)[r.integers(0, 5, n)]),
        }
    )

    r, n = _rng(seed, "lineitem"), ROWS["lineitem"]
    qty = r.integers(1, 51, n).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, ROWS["orders"], n), pa.int64()),
            "l_partkey": pa.array(r.integers(0, ROWS["part"], n), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, ROWS["supplier"], n), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, n)),
            "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n)]),
            "l_shipdate": pa.array(
                _dates(r, "1995-01-02", "2001-11-04", n), pa.timestamp("us")
            ),
        }
    )

    r, n = _rng(seed, "events"), ROWS["events"]
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(r.integers(0, span_us, n)) + np.datetime64(
        "2024-01-01T00:00:00", "us"
    ).astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, EVENT_USERS, n), pa.int64()),
            "event_type": pa.array(np.array(_EVENT_TYPES)[r.integers(0, 5, n)]),
            "value": pa.array(np.maximum(np.round(r.exponential(50.0, n), 2), 0.01)),
            "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
        }
    )

    r, n = _rng(seed, "documents"), ROWS["documents"]
    body = np.array(_VOCAB)
    texts = [" ".join(body[r.integers(0, len(body), k)]) for k in r.integers(10, 100, n)]
    # 5% near-duplicates: another document with its tail word replaced
    # by the marker word, the shipped corpus's planted-dup shape.
    for i in r.choice(n, n // 20, replace=False):
        words = texts[int(r.integers(0, n))].split()
        texts[i] = " ".join(words[:-1] + ["dup"])
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(np.array(_LANGS)[r.choice(5, n, p=_LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    r, n = _rng(seed, "embeddings"), ROWS["embeddings"]
    m = r.standard_normal((n, EMBED_DIM)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(m), pa.list_(pa.float32())),
            "label": pa.array(r.integers(0, 10, n), pa.int32()),
        }
    )
    return out


# --- rime typing log -------------------------------------------------------

_SYLLABLES = (
    "ni hao wo men shi jie zhong guo ren min xue sheng lao shi peng you "
    "jin tian ming tian dian nao shou ji gong zuo wen ti"
).split()


def _rime_vocab(r: np.random.Generator) -> list[tuple[str, list[str]]]:
    """(pinyin input, candidate words) pairs; candidates are CJK strings
    so the misses CSV exercises UTF-8 end to end."""
    vocab = []
    for _ in range(600):
        k = int(r.integers(1, 4))
        pinyin = " ".join(_SYLLABLES[int(i)] for i in r.integers(0, len(_SYLLABLES), k))
        cands = [
            "".join(chr(0x4E00 + int(c)) for c in r.integers(0, 2000, k + 1))
            for _ in range(12)
        ]
        vocab.append((pinyin, cands))
    return vocab


def _iso(t_ms: int) -> str:
    d = dt.datetime(2026, 8, 1, tzinfo=dt.timezone.utc) + dt.timedelta(milliseconds=t_ms)
    return d.strftime("%Y-%m-%dT%H:%M:%S.") + f"{d.microsecond // 1000:03d}Z"


def _rime_lines(seed: int) -> tuple[list[list[str]], dict]:
    """Lines per rotated file plus the planted-defect counts."""
    r = _rng(seed, "rime")
    vocab = _rime_vocab(r)
    # commit rank: 0 hit, 1-2 top-3 miss, 3-8 deep miss, -1 direct, None pruned
    rank_values = [0, 1, 2, 3, 4, 5, 6, 7, 8, -1, None]
    rank_p = [0.58, 0.12, 0.07, 0.03, 0.02, 0.02, 0.02, 0.02, 0.02, 0.05, 0.05]
    lines: list[str] = []
    t = 0
    for _ in range(RIME_SESSIONS):
        full = r.random() < 0.8  # else the "normal" preset prunes fields
        t += int(r.integers(60_000, 3_600_000))
        lines.append(json.dumps({"event_type": "session_start", "schema_id": "wanxiang", "timestamp": _iso(t)}))
        for _ in range(int(r.integers(3, 12))):
            pinyin, cands = vocab[int(r.integers(0, len(vocab)))]
            shown = cands[:5]
            state_ts = None
            for key in pinyin.replace(" ", "")[: int(r.integers(1, 4))]:
                t += int(r.integers(80, 600))
                state_ts = _iso(t)
                lines.append(json.dumps({
                    "event_type": "input_state_changed", "event_subtype": "buffer_edit",
                    "key_action": key, "input_buffer": pinyin, "candidates": shown,
                    "first_candidate": shown[0], "has_menu": True, "timestamp": state_ts,
                }, ensure_ascii=False))
            rank = rank_values[int(r.choice(len(rank_values), p=rank_p))]
            t += int(r.integers(100, 2_000))
            ev: dict = {"event_type": "text_committed"}
            if rank is None:
                ev["committed_text"] = shown[0]
            elif rank == -1:
                ev.update(committed_text=pinyin.replace(" ", ""), selection_method="direct_commit_no_menu", selected_candidate_rank=-1)
            else:
                ev.update(
                    committed_text=cands[rank],
                    selection_method="first_choice_space" if rank == 0 else f"nth_choice_number_{rank % 6 + 1}",
                    selected_candidate_rank=rank,
                )
            ev["source_first_candidate"] = shown[0]
            if full:
                ev.update(
                    input_sequence_at_commit=pinyin, source_input_buffer=pinyin,
                    source_candidates_list=shown, source_event_timestamp=state_ts,
                )
            ev["timestamp"] = _iso(t)
            lines.append(json.dumps(ev, ensure_ascii=False))
        if r.random() < 0.02:
            lines.append(json.dumps({"event_type": "error", "component": "main_processor", "message": "boom", "timestamp": _iso(t)}))
        t += int(r.integers(1_000, 30_000))
        lines.append(json.dumps({"event_type": "session_end", "timestamp": _iso(t)}))

    planted = {"blank": 0, "truncated": 0, "wrong_type": 0}
    out: list[str] = []
    for line in lines:
        u = r.random()
        if u < 0.003:
            out.append("")
            planted["blank"] += 1
        if u > 0.997:
            # cut strictly inside the object: never valid JSON
            out.append(line[: int(r.integers(1, len(line) - 1))])
            planted["truncated"] += 1
            continue
        if 0.5 < u < 0.502 and '"selected_candidate_rank": ' in line:
            obj = json.loads(line)
            obj["selected_candidate_rank"] = str(obj["selected_candidate_rank"])
            out.append(json.dumps(obj, ensure_ascii=False))
            planted["wrong_type"] += 1
            continue
        out.append(line)
    per_file = -(-len(out) // RIME_FILES)
    files = [out[i : i + per_file] for i in range(0, len(out), per_file)]
    return files, planted


# --- cache -----------------------------------------------------------------


def _write_atomic_dir(final: Path, write) -> None:
    """Generate into a sibling temp dir and rename, so an interrupted run
    never leaves a half-written cache entry behind."""
    tmp = final.with_name(final.name + f".tmp{os.getpid()}")
    tmp.mkdir(parents=True, exist_ok=True)
    write(tmp)
    tmp.rename(final)


def tables(seed: int, cache: Path) -> tuple[Path, dict]:
    """Directory holding ``<table>.parquet`` for ``seed``, plus sizes."""
    d = cache / f"seed{seed}" / "tables"
    if not (d / "manifest.json").exists():
        d.parent.mkdir(parents=True, exist_ok=True)

        def write(tmp: Path) -> None:
            manifest = {}
            for name, tbl in _build_tables(seed).items():
                p = tmp / f"{name}.parquet"
                pq.write_table(tbl, p)
                manifest[name] = {"rows": tbl.num_rows, "bytes": p.stat().st_size}
            (tmp / "manifest.json").write_text(json.dumps(manifest, indent=1))

        _write_atomic_dir(d, write)
    return d, json.loads((d / "manifest.json").read_text())


def rime(seed: int, cache: Path) -> tuple[Path, dict]:
    """Directory of rotated ``*.jsonl`` files for ``seed``, plus sizes and
    planted-defect counts."""
    d = cache / f"seed{seed}" / "rime"
    if not (d / "manifest.json").exists():
        d.parent.mkdir(parents=True, exist_ok=True)

        def write(tmp: Path) -> None:
            files, planted = _rime_lines(seed)
            logs = tmp / "logs"
            logs.mkdir()
            n_bytes = 0
            for i, lines in enumerate(files):
                p = logs / f"input_habit.{i:03d}.jsonl"
                p.write_text("\n".join(lines) + "\n", encoding="utf-8")
                n_bytes += p.stat().st_size
            manifest = {
                "files": len(files),
                "lines": sum(len(f) for f in files),
                "bytes": n_bytes,
                "planted": planted,
                "corrupt_expected": planted["truncated"] + planted["wrong_type"],
            }
            (tmp / "manifest.json").write_text(json.dumps(manifest, indent=1))

        _write_atomic_dir(d, write)
    return d / "logs", json.loads((d / "manifest.json").read_text())
