"""Correctness references, computed independently of the engine.

- Registry queries: each query's DuckDB oracle SQL over the same parquet
  files, canonicalised as the repository's oracle test does (order-
  insensitive rows, columns sorted by name, floats to 9 significant digits,
  timestamps tz-stripped).
- Ingest: a pure-Python replay of the pages the workload generated — last
  write wins by key, late-drop against the stored high-water event time,
  dead-letter keys for malformed lines.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import heapq
import json
import math

import duckdb

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _canon_value(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon_value(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def canon(cols: list[str], rows) -> tuple[tuple[str, ...], int, str]:
    """(sorted lower-cased column names, row count, digest of sorted rows)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    lines = sorted("|".join(_canon_value(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return tuple(cols[i].lower() for i in order), len(lines), h


def canon_arrow(table) -> tuple[tuple[str, ...], int, str]:
    cols = table.column_names
    data = [table.column(i).to_pylist() for i in range(len(cols))]
    return canon(cols, list(zip(*data)) if cols else [])


def oracle_digests(sf_dir: str, sqls: dict[str, str], threads: int) -> dict[str, tuple]:
    con = duckdb.connect(config={"threads": threads})
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for name, sql in sqls.items():
        rel = con.sql(sql)
        out[name] = canon(list(rel.columns), rel.fetchall())
    con.close()
    return out


# --- ingest reference -----------------------------------------------------------

LONG_MIN = -(2**63)


class IngestReference:
    """Replays ``streaming.ingest``'s contract one micro-batch at a time."""

    def __init__(self, watermark_delay_ms: int):
        self.delay = watermark_delay_ms
        self.high: int | None = None
        self.rows: dict[str, tuple] = {}  # key -> (ord, batch, room, ts, event_id)
        self.batch = -1

    def apply(self, lines: list[str]) -> None:
        self.batch += 1
        cands = []
        for line in lines:
            try:
                e = json.loads(line)
            except ValueError:
                e = None
            if not isinstance(e, dict) or e.get("event_id") is None:
                key = "dead:" + hashlib.md5(f"parse_error: {line}".encode()).hexdigest()
                cands.append((key, LONG_MIN, None, None, None))
                continue
            ts = e["timestamp"]
            if self.high is not None and ts < self.high - self.delay:
                continue
            cands.append((e["event_id"], ts, e["room_id"], ts, e["event_id"]))
        highs = [c[1] for c in cands if c[1] != LONG_MIN]
        for key, order, room, ts, eid in cands:
            cur = self.rows.get(key)
            new = (order, self.batch, room, ts, eid)
            if cur is None or new[:2] >= cur[:2]:
                self.rows[key] = new
        if highs and (self.high is None or max(highs) > self.high):
            self.high = max(highs)

    def newest(self, room: str, limit: int) -> list[tuple[int, str]]:
        """keyset_page(order=timestamp desc, tie=event_id desc) of one room."""
        return heapq.nlargest(
            limit, ((r[3], r[4]) for r in self.rows.values() if r[2] == room)
        )
