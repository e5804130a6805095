"""Tracing from outside the package: spans, py4j and job counters, and an
offline Spark event-log parse.

Nothing here edits the package. ``Tracer.wrap`` swaps a public function for
a span-recording wrapper in every loaded package module that holds it, the
py4j counter wraps the gateway client's ``send_command``, job windows come
from the DAG scheduler's job-id counter and ``statusTracker``, and executor
metrics come from the event log once the session has stopped.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

PKG = "beeper_matric_etl_tool_spark"

#: public functions wrapped in a traced pass, as (module, function) under
#: the package; a span is named after its module path, so the first part
#: is the layer
WRAPPED = [
    ("ext.clustering", "kmeans"),
    ("ext.clustering", "assign_clusters"),
    ("ext.similarity_index", "build_ivf_index"),
    ("ext.similarity_index", "append_ivf_index"),
    ("ext.similarity_index", "delete_from_ivf_index"),
    ("ext.similarity_index", "search_ivf"),
    ("sinks", "partitioned_upsert"),
    ("operators.pagination", "keyset_page"),
]


class Tracer:
    """In-memory spans. A span is (id, name, op, parent, start, end, jobs,
    py4j); ``op`` is the per-operation id shared by every span of one
    operation. Spans are written to one JSON file by ``dump``."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.op: str | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._restore: list[tuple[object, str, object]] = []
        self.py4j_calls = 0
        self._counting = True
        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command

        def counted(*a, **kw):
            if self._counting:
                self.py4j_calls += 1
            return orig(*a, **kw)

        client.send_command = counted
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    # -- counters that must not count themselves ---------------------------
    def next_job_id(self) -> int:
        self._counting = False
        try:
            return int(self._dag.numTotalJobs())
        finally:
            self._counting = True

    def job_census(self, group: str | None, first: int, end: int) -> dict:
        """Jobs of one operation: its job group plus the no-group jobs whose
        ids fall in its window [first, end) — jobs launched from driver
        pool threads do not inherit the group. With no group, every job of
        the window."""
        self._counting = False
        try:
            tr = self.spark.sparkContext.statusTracker()
            window = set(range(first, end))
            grouped = set(tr.getJobIdsForGroup(group) or []) if group else window
            nogroup = {j for j in (tr.getJobIdsForGroup(None) or []) if j in window} - grouped
            jobs = sorted(grouped | nogroup)
            stages = tasks = 0
            for j in jobs:
                info = tr.getJobInfo(j)
                for s in (info.stageIds if info else []):
                    si = tr.getStageInfo(s)
                    if si is not None:
                        stages += 1
                        tasks += si.numTasks
            return {
                "jobs": len(jobs), "jobs_pool": len(nogroup),
                "stages": stages, "tasks": tasks, "job_ids": jobs,
            }
        finally:
            self._counting = True

    # -- spans ----------------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": next(self._ids), "name": name, "op": self.op,
            "parent": stack[-1]["id"] if stack else None,
            "thread": threading.get_ident(), **attrs,
        }
        rec["job0"], rec["py4j0"] = self.next_job_id(), self.py4j_calls
        rec["start"] = time.perf_counter()
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            rec["jobs"] = self.next_job_id() - rec.pop("job0")
            rec["py4j"] = self.py4j_calls - rec.pop("py4j0")
            self.spans.append(rec)

    def wrap(self, modname: str, fname: str) -> None:
        mod = sys.modules.get(f"{PKG}.{modname}") or __import__(f"{PKG}.{modname}", fromlist=["_"])
        orig = getattr(mod, fname)
        name = f"{modname}.{fname}"

        @functools.wraps(orig)
        def traced(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        for m in list(sys.modules.values()):
            if getattr(m, "__name__", "").startswith(PKG):
                for attr, val in list(vars(m).items()):
                    if val is orig:
                        setattr(m, attr, traced)
                        self._restore.append((m, attr, orig))

    def wrap_all(self) -> None:
        for modname, fname in WRAPPED:
            self.wrap(modname, fname)

    def unwrap_all(self) -> None:
        for m, attr, orig in reversed(self._restore):
            setattr(m, attr, orig)
        self._restore.clear()

    def dump(self, path: str, **meta) -> None:
        with open(path, "w") as fh:
            json.dump({**meta, "spans": self.spans}, fh)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s["start"]
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, cur_end), min(b, s["end"])
            if b > a:
                covered += b - a
                cur_end = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def layer_rollup(spans: list[dict], passes: int) -> dict[str, float]:
    """Per wrapped function: self seconds and jobs per pass."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        n = s["name"]
        if not n.startswith(("ext.", "sinks.", "operators.")):
            continue
        out[f"{n}.self_s"] = out.get(f"{n}.self_s", 0.0) + st[s["id"]] / passes
        out[f"{n}.jobs"] = out.get(f"{n}.jobs", 0.0) + s["jobs"] / passes
    return out


# --- event log -----------------------------------------------------------------

def parse_event_log(log_dir: str, job_ops: dict[int, str]) -> dict[str, dict[str, float]]:
    """Executor metrics per operation from a local Spark event log: run
    time, GC, shuffle bytes, spill and failed tasks of the tasks of every
    stage whose first job belongs to the operation."""
    stage_op: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    files = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
        if not f.startswith(("appstatus", ".")))
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    op = job_ops.get(ev["Job ID"])
                    if op is not None:
                        for s in ev.get("Stage IDs", []):
                            stage_op.setdefault(s, op)
                elif kind == "SparkListenerTaskEnd":
                    op = stage_op.get(ev.get("Stage ID"))
                    if op is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    acc = out.setdefault(op, {
                        "executor_run_s": 0.0, "gc_s": 0.0, "shuffle_read_bytes": 0.0,
                        "shuffle_write_bytes": 0.0, "spill_bytes": 0.0, "failed_tasks": 0.0,
                    })
                    acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1000
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1000
                    acc["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    acc["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    acc["failed_tasks"] += 1 if (ev.get("Task Info") or {}).get("Failed") else 0
    return out
