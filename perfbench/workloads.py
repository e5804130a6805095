"""The three workloads. Each is a closed loop with one client: every call
waits for its reply before the next is sent.

- ``reads``: the registry's headline queries (dashboard / read-API traffic).
- ``curate``: LLM-data curation queries of the ext tier.
- ``ingest``: a long-running ``streaming.ingest.start_ingest`` query fed one
  ``/sync`` page at a time, each commit followed by a ``keyset_page`` read.

Every workload returns a ``Result``: per-operation samples plus the
per-layer figures a traced run adds.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

import check
import gen
import tracing

perf = time.perf_counter

#: scale factors: lineitem = 6M x sf rows. reads runs at the registry
#: census's sf0.01: at sf0.1 a run did not fit its share of a round
READS_SF = 0.01
CURATE_SF = 0.01
INGEST_SF = 0.1
#: the curation tier's index lifecycle (build -> append -> delete -> search);
#: the other curation queries add about 50 s to a warm pass on 4 cores and
#: do not fit a run
CURATE_QUERIES = ["knn_multiprobe"]
#: timed passes a run makes at least, whatever --seconds says
READS_MIN_PASSES = 2
CURATE_MIN_PASSES = 3
PAGE_SIZE = 500
READ_LIMIT = 50
#: untimed pages after the backfill: page times fall over about the first
#: six pages of a session
WARM_PAGES = 6
MIN_PAGES = 12
WATERMARK_MS = 3_600_000  # start_ingest's default "1 hour"


@dataclass
class Result:
    setup: dict[str, float] = field(default_factory=dict)
    samples: dict[str, list[float]] = field(default_factory=dict)  # op kind -> seconds
    attempted: int = 0
    failed: int = 0
    layers: dict[str, float] = field(default_factory=dict)
    extra: dict[str, float] = field(default_factory=dict)  # printed, not reported
    table: list[str] = field(default_factory=list)  # human-readable breakdown

    def fail(self, what: str, detail: str = "") -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what} {detail}".rstrip(), flush=True)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _reset_peak_rss() -> None:
    """Restart this process's peak-RSS mark (``VmHWM``) from its current RSS,
    so the input generator's and the oracle's transient memory is not
    reported as the program's (Linux 4.0 and later)."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


# --- reads / curate ------------------------------------------------------------

class QueryRunner:
    """Composes and executes one registry query per call, checks its rows
    against the query's DuckDB oracle, and in a traced pass records the
    compose/execute spans and the operation's job census."""

    def __init__(self, ctx, res: Result, sf_dir: str, expect: dict):
        from beeper_matric_etl_tool_spark import plans

        self.ctx, self.res, self.sf_dir, self.expect = ctx, res, sf_dir, expect
        self.specs = plans.specs()
        self.n = 0

    def run(self, name: str, tracer=None) -> dict | None:
        spark, res = self.ctx.spark, self.res
        res.attempted += 1
        self.n += 1
        op = f"{name}#{self.n}"
        rec: dict = {"name": name}
        try:
            if tracer is None:
                t0 = perf()
                df = self.specs[name].fn(spark, self.sf_dir)
                t1 = perf()
                tbl = df.toArrow()
                t2 = perf()
            else:
                tracer.op = op
                spark.sparkContext.setJobGroup(op, name)
                first, p0 = tracer.next_job_id(), tracer.py4j_calls
                with tracer.span("plans.compose", query=name) as sp:
                    t0 = perf()
                    df = self.specs[name].fn(spark, self.sf_dir)
                    t1 = perf()
                rec["py4j_calls"] = tracer.py4j_calls - p0
                with tracer.span("exec.execute", query=name):
                    tbl = df.toArrow()
                    t2 = perf()
                spark.sparkContext.setJobGroup("", "")
                rec.update(tracer.job_census(op, first, tracer.next_job_id()))
                rec["compose_jobs"] = sp["jobs"]
                tracer.op = None
        except Exception:
            res.fail(name, traceback.format_exc(limit=3))
            return None
        rec.update(compose_s=t1 - t0, execute_s=t2 - t1, op=op)
        got = check.canon_arrow(tbl)
        if got != self.expect[name]:
            res.fail(name, f"oracle mismatch: rows {got[1]} vs {self.expect[name][1]}")
        return rec


def queries(ctx, names: list[str], sf: float, min_passes: int) -> Result:
    res = Result()
    rng = np.random.default_rng(ctx.seed)
    t0 = perf()
    sf_dir = ctx.sf_dir = os.path.join(ctx.work, "tables")
    gen.write_tables(ctx.seed, sf, sf_dir)
    res.setup["gen_s"] = perf() - t0
    from beeper_matric_etl_tool_spark import plans

    specs = plans.specs()
    expect = check.oracle_digests(sf_dir, {n: specs[n].oracle for n in names}, ctx.cores)
    _reset_peak_rss()
    runner = QueryRunner(ctx, res, sf_dir, expect)

    # a fresh JVM runs its first pass about three times slower
    t0 = perf()
    for name in rng.permutation(names):
        runner.run(str(name))
    res.setup["warmup_s"] = perf() - t0

    plain: list[dict] = []
    traced: list[dict] = []
    passes = 0
    t_start = perf()
    while passes < min_passes * (2 if ctx.tracer else 1) or perf() - t_start < ctx.seconds:
        # plain, traced, traced, plain: warm-up drift falls on both sides
        use_trace = ctx.tracer is not None and passes % 4 in (1, 2)
        if use_trace:
            ctx.tracer.wrap_all()
        for name in rng.permutation(names):
            rec = runner.run(str(name), ctx.tracer if use_trace else None)
            if rec is not None:
                (traced if use_trace else plain).append(rec)
        if use_trace:
            ctx.tracer.unwrap_all()
        passes += 1
    for rec in plain:
        res.samples.setdefault(rec["name"], []).append(rec["compose_s"] + rec["execute_s"])
    if ctx.tracer is not None:
        _query_layers(ctx, res, names, plain, traced)
    return res


def _kmeans_rounds(ctx, res: Result, sf_dir: str) -> None:
    """Jobs and seconds per Lloyd round of ``ext.clustering.kmeans`` alone
    (k=8, as kmeans_invariants calls it), from a 1-round and a 3-round run."""
    from beeper_matric_etl_tool_spark.ext.clustering import kmeans
    from beeper_matric_etl_tool_spark.sources.tables import table

    emb = table(ctx.spark, sf_dir, "embeddings")
    runs = {}
    for it in (1, 3):
        j0, t0 = ctx.tracer.next_job_id(), perf()
        kmeans(emb, k=8, iterations=it)
        runs[it] = (ctx.tracer.next_job_id() - j0, perf() - t0)
    res.layers["ext.clustering.jobs_per_round"] = (runs[3][0] - runs[1][0]) / 2
    res.layers["ext.clustering.round_s"] = (runs[3][1] - runs[1][1]) / 2


def _query_layers(ctx, res: Result, names, plain, traced) -> None:
    """Per-layer figures of a traced reads/curate run, per pass: the sum
    over queries of each query's median."""
    by = {}
    for rec in traced:
        by.setdefault(rec["name"], []).append(rec)
    med = lambda key: sum(_median([r[key] for r in by.get(n, [])]) for n in names)  # noqa: E731
    n_passes = max(len(v) for v in by.values()) if by else 1
    res.layers.update({
        "plans.compose_s": med("compose_s"),
        "plans.py4j_calls": med("py4j_calls"),
        "plans.compose_jobs": med("compose_jobs"),
        "exec.execute_s": med("execute_s"),
        "exec.jobs": med("jobs"),
        "exec.jobs_pool": med("jobs_pool"),
        "exec.stages": med("stages"),
        "exec.tasks": med("tasks"),
    })
    res.layers.update(tracing.layer_rollup(ctx.tracer.spans, n_passes))
    untraced = sum(_median([r["compose_s"] + r["execute_s"] for r in plain if r["name"] == n]) for n in names)
    res.layers["trace.overhead_s"] = med("compose_s") + med("execute_s") - untraced
    ctx.job_ops.update({j: r["op"] for r in traced for j in r["job_ids"]})
    ctx.op_kind.update({r["op"]: r["name"] for r in traced})
    res.table.append(f"{'query':26s} {'compose_s':>9} {'execute_s':>9} {'jobs':>5} {'pool':>5} {'stages':>6} {'tasks':>6} {'py4j':>6}")
    for n in names:
        rs = by.get(n, [])
        res.table.append(
            f"{n:26s} {_median([r['compose_s'] for r in rs]):9.3f} {_median([r['execute_s'] for r in rs]):9.3f} "
            f"{_median([r['jobs'] for r in rs]):5.0f} {_median([r['jobs_pool'] for r in rs]):5.0f} "
            f"{_median([r['stages'] for r in rs]):6.0f} {_median([r['tasks'] for r in rs]):6.0f} "
            f"{_median([r['py4j_calls'] for r in rs]):6.0f}"
        )


def reads(ctx) -> Result:
    from beeper_matric_etl_tool_spark.plans.registry import headline_names

    names = headline_names()
    return queries(ctx, names, READS_SF, READS_MIN_PASSES)


def curate(ctx) -> Result:
    res = queries(ctx, CURATE_QUERIES, CURATE_SF, CURATE_MIN_PASSES)
    if ctx.tracer is not None:
        _kmeans_rounds(ctx, res, ctx.sf_dir)
    return res


# --- ingest --------------------------------------------------------------------

STREAM_STEPS = ("addBatch", "walCommit", "commitOffsets", "latestOffset", "queryPlanning", "getBatch", "triggerExecution")


def _write_lines(path: str, lines: list[str]) -> None:
    """Write a page file and move it into place in one rename, so the file
    source never lists a partial file."""
    tmp = os.path.join(os.path.dirname(os.path.dirname(path)), "staging", os.path.basename(path))
    os.makedirs(os.path.dirname(tmp), exist_ok=True)
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.replace(tmp, path)


def _parquet_files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(d, f))
                out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


class IngestLoop:
    """One long-running ingest query plus its independent reference."""

    def __init__(self, ctx, res: Result, root: str):
        from beeper_matric_etl_tool_spark.operators import pagination
        from beeper_matric_etl_tool_spark.streaming import ingest

        self.pagination = pagination
        self.ctx, self.res = ctx, res
        self.src, self.tgt = os.path.join(root, "src"), os.path.join(root, "tgt")
        os.makedirs(self.src, exist_ok=True)
        self.ckpt = os.path.join(root, "ckpt")
        self.ref = check.IngestReference(WATERMARK_MS)
        self.start_ingest = ingest.start_ingest
        self.n_files = 0
        self.query = None

    def load(self, history_lines: list[str], n_files: int = 16) -> float:
        """Drop the whole history, start the query, wait for the commit."""
        step = -(-len(history_lines) // n_files)
        for i in range(0, len(history_lines), step):
            self._drop(history_lines[i:i + step])
        t0 = perf()
        self.query = self.start_ingest(self.ctx.spark, self.src, self.tgt, self.ckpt)
        self.query.processAllAvailable()
        took = perf() - t0
        self.ref.apply(history_lines)
        return took

    def _drop(self, lines: list[str]) -> None:
        self.n_files += 1
        _write_lines(os.path.join(self.src, f"page-{self.n_files:06d}.json"), lines)

    def page(self, lines: list[str], room: str, tracer=None) -> dict | None:
        from pyspark.sql import functions as F

        spark, res = self.ctx.spark, self.res
        res.attempted += 1
        rec: dict = {}
        before = _parquet_files(self.tgt) if tracer else None
        try:
            if tracer:
                tracer.op = f"page#{self.n_files + 1}"
                first = tracer.next_job_id()
            self._drop(lines)
            t0 = perf()
            self.query.processAllAvailable()
            t1 = perf()
            self.ref.apply(lines)
            t2 = perf()
            rows = (
                self.pagination.keyset_page(spark.read.parquet(self.tgt), "timestamp", "event_id", READ_LIMIT,
                                     predicate=F.col("room_id") == room)
                .select("timestamp", "event_id").collect()
            )
            t3 = perf()
        except Exception:
            res.fail("page", traceback.format_exc(limit=3))
            return None
        rec.update(page_s=t1 - t0, read_s=t3 - t2)
        want = self.ref.newest(room, READ_LIMIT)
        if [(r[0], r[1]) for r in rows] != want:
            res.fail("read_after_write", f"room {room}: {len(rows)} rows vs {len(want)}")
        prog = self.query.lastProgress or {}
        rec["numInputRows"] = prog.get("numInputRows", 0)
        for k in STREAM_STEPS:
            rec[f"{k}_ms"] = (prog.get("durationMs") or {}).get(k, 0)
        if tracer:
            after = _parquet_files(self.tgt)
            written = [p for p, v in after.items() if before.get(p) != v]
            in_bytes = sum(len(x) + 1 for x in lines)
            rec.update(
                files_written=len(written),
                rewrite_ratio=sum(after[p][0] for p in written) / in_bytes,
                target_files=len(after),
            )
            # the stream's jobs run in its own group: take the page's window
            rec.update(tracer.job_census(None, first, tracer.next_job_id()))
            self.ctx.job_ops.update({j: tracer.op for j in rec["job_ids"]})
            self.ctx.op_kind[tracer.op] = "page"
            tracer.op = None
        return rec

    def verify(self) -> None:
        """Final target state vs the reference: key set, event times and
        the micro-batch each surviving row was committed in."""
        self.res.attempted += 1
        t = self.ctx.spark.read.parquet(self.tgt).select("__merge_key", "timestamp", "__batch_id").toArrow()
        got = set(zip(*(t.column(i).to_pylist() for i in range(3))))
        want = {(k, None if r[0] == check.LONG_MIN else r[0], r[1]) for k, r in self.ref.rows.items()}
        if len(got) != t.num_rows or got != want:
            self.res.fail("ingest target", f"{t.num_rows} rows vs {len(want)} in the reference")

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()


def ingest(ctx) -> Result:
    res = Result()
    rng = np.random.default_rng(ctx.seed)
    t0 = perf()
    lines, clock = gen.history(ctx.seed, INGEST_SF)
    res.setup["gen_s"] = perf() - t0
    rooms = [f"!r{i}" for i in range(gen.N_ROOMS)]

    loop = IngestLoop(ctx, res, os.path.join(ctx.work, "main"))
    pages = gen.PageStream(ctx.seed, lines, clock, PAGE_SIZE)
    _reset_peak_rss()
    try:
        # set-up: the backfill, then a few pages that finish the warm-up
        res.attempted += 1
        t0 = perf()
        backfill_s = loop.load(lines)
        for _ in range(WARM_PAGES):
            loop.page(pages.next_page(), rooms[int(rng.integers(len(rooms)))])
        res.setup["warmup_s"] = perf() - t0
        recs, traced = [], []
        t_start = perf()
        n = 0
        while len(recs) < MIN_PAGES or perf() - t_start < ctx.seconds:
            n += 1
            use_trace = ctx.tracer is not None and n % 2 == 0
            if use_trace:
                ctx.tracer.wrap_all()
            rec = loop.page(pages.next_page(), rooms[int(rng.integers(len(rooms)))],
                            ctx.tracer if use_trace else None)
            if use_trace:
                ctx.tracer.unwrap_all()
            if rec is not None:
                (traced if use_trace else recs).append(rec)
        loop.verify()
    finally:
        loop.stop()
    res.samples["page"] = [r["page_s"] for r in recs]
    res.samples["read_after_write"] = [r["read_s"] for r in recs]
    pg = [r["page_s"] for r in recs]
    res.extra.update({
        "ingest.backfill_rows_per_s": len(lines) / backfill_s,
        "ingest.page_p50_s": _median(pg),
        "ingest.page_p90_s": float(np.percentile(pg, 90)) if pg else 0.0,
        "ingest.read_after_write_p50_s": _median([r["read_s"] for r in recs]),
    })
    if ctx.tracer is not None:
        res.layers.update(res.extra)
        res.layers.update({
            "exec.jobs": _median([r["jobs"] for r in traced]),
            "exec.jobs_pool": _median([r["jobs_pool"] for r in traced]),
            "exec.stages": _median([r["stages"] for r in traced]),
            "exec.tasks": _median([r["tasks"] for r in traced]),
            "streaming.numInputRows": _median([r["numInputRows"] for r in traced]),
            "sinks.files_written": _median([r["files_written"] for r in traced]),
            "sinks.bytes_rewritten_per_input_byte": _median([r["rewrite_ratio"] for r in traced]),
            "sinks.target_files": traced[-1]["target_files"] if traced else 0,
        })
        for k in STREAM_STEPS:
            res.layers[f"streaming.{k}_ms"] = _median([r[f"{k}_ms"] for r in traced])
        res.layers.update(tracing.layer_rollup(ctx.tracer.spans, max(len(traced), 1)))
        res.layers["trace.overhead_s"] = _median([r["page_s"] + r["read_s"] for r in traced]) - _median(
            [r["page_s"] + r["read_s"] for r in recs])
        res.table.append(f"{'page step':16s} {'median':>9}")
        for k in STREAM_STEPS:
            res.table.append(f"{k + '_ms':16s} {res.layers[f'streaming.{k}_ms']:9.1f}")
        for k in ("sinks.partitioned_upsert.self_s", "sinks.partitioned_upsert.jobs", "sinks.files_written",
                  "sinks.bytes_rewritten_per_input_byte", "sinks.target_files"):
            res.table.append(f"{k:16s} {res.layers.get(k, 0.0):9.3f}")
    return res


WORKLOADS = {"reads": reads, "curate": curate, "ingest": ingest}
