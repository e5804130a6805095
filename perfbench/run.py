#!/usr/bin/env python3
"""Benchmark of the engine's three kinds of use: dashboard reads, LLM-data
curation, and streaming ingest (see README.md in this directory).

Run from the repository root:

    python3 perfbench/run.py --workload reads --seed 1 --seconds 10 --trace 0

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). Lines before it start with ``#``
and give the host's core count, the seed, per-operation medians and, in a
traced run, the per-query and per-page breakdowns. A traced run also
writes its spans to ``perfbench-trace-<workload>-<seed>.json`` in the
working directory. Exits non-zero, printing no result, when the package is
not present.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "beeper_matric_etl_tool_spark"
sys.path[:0] = [HERE]

import tracing  # noqa: E402
import workloads  # noqa: E402

#: end-to-end metrics, reported by every workload
END_TO_END = {"setup_s": "s", "total_s": "s", "peak_rss_mb": "MB"}

#: every per-layer metric a traced run reports, with its unit; 0 where a
#: workload does not reach the layer
PER_LAYER = {
    "session.start_s": "s",
    "plans.compose_s": "s", "plans.py4j_calls": "count", "plans.compose_jobs": "count",
    "exec.execute_s": "s", "exec.jobs": "count", "exec.jobs_pool": "count",
    "exec.stages": "count", "exec.tasks": "count",
    "exec.executor_run_s": "s", "exec.gc_s": "s", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes", "exec.failed_tasks": "count",
    "ext.clustering.jobs_per_round": "count", "ext.clustering.round_s": "s",
    **{f"{m}.{f}.{k}": u for m, f in tracing.WRAPPED for k, u in (("self_s", "s"), ("jobs", "count"))},
    **{f"streaming.{k}_ms": "ms" for k in workloads.STREAM_STEPS},
    "streaming.numInputRows": "count",
    "sinks.files_written": "count", "sinks.bytes_rewritten_per_input_byte": "ratio",
    "sinks.target_files": "count",
    "ingest.backfill_rows_per_s": "rows/s", "ingest.page_p50_s": "s", "ingest.page_p90_s": "s",
    "ingest.read_after_write_p50_s": "s",
    "trace.overhead_s": "s",
}
EXEC_EVENTLOG = ("executor_run_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
                 "spill_bytes", "failed_tasks")
DRIVER_MEM = "2g"


class Ctx:
    """What a workload needs: the session, its arguments, a private work
    directory, and in a traced run the tracer and job attribution maps."""

    def __init__(self, args, work: str, cores: int):
        self.seed, self.seconds, self.work, self.cores = args.seed, args.seconds, work, cores
        self.spark = None
        self.sf_dir = ""  # the generated tables of reads / curate
        self.tracer = None
        self.job_ops: dict[int, str] = {}  # job id -> operation id
        self.op_kind: dict[str, str] = {}  # operation id -> query name / "page"


def _vm_hwm_mb(pid: int | None) -> float:
    if pid is None:
        return 0.0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _setup_env(work: str, cores: int) -> None:
    """Point every temp and scratch location into the work directory, size
    Spark from the core count, and make the package importable by Python
    workers whatever their working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "PYTHONPATH": ROOT + (os.pathsep + pp if pp else ""),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # bench.py's local profile: 2 shuffle partitions per core, 8m splits
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(2 * cores),
        "SPARK_GRAFT_MAX_PARTITION_BYTES": "8m",
    })
    sys.path.insert(0, ROOT)


def _start_session(work: str, traced: bool):
    from beeper_matric_etl_tool_spark import get_spark

    conf = {
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed heap, so peak RSS does not follow the collector's resizing;
        # no hsperfdata file, which the JVM would write outside the checkout
        "spark.driver.extraJavaOptions":
            f"-XX:+UseParallelGC -Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.shuffle.compress": "false",
        "spark.shuffle.spill.compress": "false",
        "spark.broadcast.compress": "false",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": os.path.join(work, "eventlog")})
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _reap_children(timeout: float = 30.0) -> None:
    """Wait for every descendant to end. This process is a child subreaper,
    so Python workers orphaned by the JVM's exit are re-parented here; any
    still running at the deadline are killed."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for p in _child_pids():
                os.kill(p, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.05)


def _child_pids() -> list[int]:
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    if int(fh.read().rsplit(")", 1)[1].split()[1]) == me:
                        out.append(int(d))
            except (OSError, IndexError, ValueError):
                pass
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    ctypes.CDLL(None).prctl(36, 1)  # PR_SET_CHILD_SUBREAPER
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _setup_env(work, cores)

    ctx = Ctx(args, work, cores)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = ctx.spark = _start_session(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        if args.trace:
            ctx.tracer = tracing.Tracer(spark)
        res = workloads.WORKLOADS[args.workload](ctx)
        rss = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(_jvm_pid())
    finally:
        if spark is not None:
            _stop_session(spark)
        _reap_children()
    try:
        medians = {k: statistics.median(v) for k, v in res.samples.items() if v}
        if args.trace:
            metrics = {k: 0.0 for k in PER_LAYER}
            metrics.update({k: v for k, v in res.layers.items() if k in metrics})
            metrics["session.start_s"] = session_s
            per_op = tracing.parse_event_log(os.path.join(work, "eventlog"), ctx.job_ops)
            by_kind: dict[str, list[dict]] = {}
            for op, m in per_op.items():
                by_kind.setdefault(ctx.op_kind.get(op, op), []).append(m)
            for k in EXEC_EVENTLOG:
                metrics[f"exec.{k}"] = sum(
                    statistics.median([m[k] for m in ms]) for ms in by_kind.values())
            ctx.tracer.dump(f"perfbench-trace-{args.workload}-{args.seed}.json",
                            workload=args.workload, seed=args.seed, cores=cores)
            units = PER_LAYER
        else:
            metrics = {
                "setup_s": session_s + res.setup["warmup_s"],
                "total_s": sum(medians.values()),
                "peak_rss_mb": rss,
            }
            units = END_TO_END
    finally:
        shutil.rmtree(work, ignore_errors=True)
    attempted = max(res.attempted, 1)
    print(f"# {args.workload} seed={args.seed} cores={cores} trace={args.trace} "
          f"session_s={session_s:.3f} " + " ".join(f"{k}={v:.3f}" for k, v in res.setup.items()))
    for k, v in sorted(medians.items()):
        print(f"#   {k:28s} median {v:8.3f} s over {len(res.samples[k])}: "
              + " ".join(f"{x:.3f}" for x in res.samples[k]))
    print(f"#   {'max_op_s':28s} {max(medians.values(), default=0.0):.4g}")
    for k, v in res.extra.items():
        print(f"#   {k:28s} {v:.4g}")
    print(f"#   {'failed_share':28s} {res.failed / attempted:.4g}")
    for line in res.table:
        print("#   " + line)
    ok = res.failed == 0 and bool(medians) and all(res.samples.values())
    print(json.dumps({
        "correct": ok,
        "attempted": attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
