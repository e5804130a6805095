"""Seeded input generator.

Writes the ten tables the query registry reads (``sources.tables.TABLES``)
as single-row-group parquet files with the schemas and value domains of the
synthetic star schema the registry's oracles were written against, and
builds the NDJSON event pages of the ingest workload. Same seed, same bytes.
Uses numpy and pyarrow only, in this process; no Spark.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["small", "red", "blue", "hot", "old", "new", "cold", "big"]
P_NOUN = ["ring", "widget", "bolt", "gear", "anvil", "rod", "plate", "pipe"]
P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
STATUSES = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]

_US_PER_DAY = 86_400_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def _days(rng: np.random.Generator, start: dt.datetime, span_days: int, n: int) -> pa.Array:
    us = _us(start) + rng.integers(0, span_days + 1, n) * _US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` (lineitem = 6M x sf rows)."""
    rng = np.random.default_rng(seed)
    out = {"events": events(seed, sf)}
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), max(int(20_000 * sf), 500)
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _pick(rng, STATUSES, n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, dt.datetime(1995, 1, 1), 2404, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), 2498, n_line),
    })
    texts = [" ".join(rng.choice(VOCAB, int(k))) for k in rng.integers(10, 101, n_doc)]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return out


def events(seed: int, sf: float) -> pa.Table:
    """The ``events`` table alone (its own stream, so the ingest workload
    need not build the other tables)."""
    rng = np.random.default_rng([seed, 1])
    n = int(1_000_000 * sf)
    start = _us(dt.datetime(2024, 1, 1))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(np.sort(start + rng.integers(0, 30 * _US_PER_DAY, n)), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(int(15_000 * sf), 150), n, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def write_tables(seed: int, sf: float, out_dir: str) -> int:
    """Write every table under ``out_dir``; returns the total row count."""
    os.makedirs(out_dir, exist_ok=True)
    rows = 0
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(t) or 1)
        rows += len(t)
    return rows


# --- ingest wire format ------------------------------------------------------

# The page mix below is assumed, not measured: no trace of real /sync
# traffic is at hand; the reference client shows only that back-paginated
# events occur. The shares, room and sender counts and event
# gaps are round figures chosen so that every path of the ingest contract
# (insert, overwrite, late drop, dead letter) runs on every page.
N_ROOMS = 64
N_SENDERS = 1_500
REDELIVER_SHARE = 0.10
LATE_SHARE = 0.04
MALFORMED_SHARE = 0.01
MAX_GAP_MS = 2_000  # event-time step between new events: 1 ms up to this
_HOUR_MS = 3_600_000


def wire_line(e: dict) -> str:
    return json.dumps(e, separators=(",", ":"))


def history(seed: int, sf: float) -> tuple[list[str], int]:
    """The ``events`` table of ``tables(seed, sf)`` as Matrix-like wire
    lines, plus the newest event time (epoch millis)."""
    t = events(seed, sf)
    ev = t.to_pydict()
    ms = (t.column("ts").cast(pa.int64()).to_numpy() // 1000).tolist()
    lines = [
        f'{{"event_id":"$h{eid}","room_id":"!r{uid % N_ROOMS}","sender":"@u{uid}",'
        f'"event_type":"{et}","timestamp":{ts},"is_encrypted":false,'
        f'"content":{json.dumps(props)},"relates_to":null}}'
        for eid, ts, uid, et, props in zip(
            ev["event_id"], ms, ev["user_id"], ev["event_type"], ev["props"]
        )
    ]
    return lines, max(ms)


class PageStream:
    """Closed-loop page source: each call to ``next_page`` returns the wire
    lines of one ``/sync`` page. A page mixes new events (event time moves
    forward), redeliveries of recently sent events, events older than the
    ingest watermark (new ids, back-paginated history) and malformed lines;
    the seed sets each page's mix around the assumed mean shares above."""

    def __init__(self, seed: int, sent: list[str], clock: int, page_size: int = 500):
        self.rng = np.random.default_rng(seed + 1)
        self.recent = list(sent[-2_000:])
        self.page_size = page_size
        self.clock = clock
        self.n = 0

    def next_page(self) -> list[str]:
        rng, self.n = self.rng, self.n + 1
        n_redeliver = int(rng.binomial(self.page_size, REDELIVER_SHARE))
        n_late = int(rng.binomial(self.page_size, LATE_SHARE))
        n_bad = int(rng.binomial(self.page_size, MALFORMED_SHARE))
        n_new = self.page_size - n_redeliver - n_late - n_bad
        lines = [self.recent[j] for j in rng.choice(len(self.recent), n_redeliver, replace=False)]
        for i in range(n_late):
            uid = int(rng.integers(0, N_SENDERS))
            lines.append(wire_line({
                "event_id": f"$l{self.n}_{i}", "room_id": f"!r{uid % N_ROOMS}",
                "sender": f"@u{uid}", "event_type": "click",
                "timestamp": self.clock - int(rng.integers(2 * _HOUR_MS, 48 * _HOUR_MS)),
                "is_encrypted": False, "content": '{"k": 0}', "relates_to": None,
            }))
        lines.extend(f"<<malformed {self.n}_{i}>>" for i in range(n_bad))
        fresh = []
        for i in range(n_new):
            self.clock += int(rng.integers(1, MAX_GAP_MS))
            uid = int(rng.integers(0, N_SENDERS))
            fresh.append(wire_line({
                "event_id": f"$p{self.n}_{i}", "room_id": f"!r{uid % N_ROOMS}",
                "sender": f"@u{uid}", "event_type": EVENT_TYPES[int(rng.integers(0, 5))],
                "timestamp": self.clock, "is_encrypted": bool(rng.integers(0, 2)),
                "content": f'{{"k": {int(rng.integers(0, 100))}}}', "relates_to": None,
            }))
        lines.extend(fresh)
        self.recent = (self.recent + fresh)[-2_000:]
        return [lines[k] for k in rng.permutation(len(lines))]
