"""Driver-visible twins for the write-side kernels (SURVEY §2.2 K4–K9,
§2.11 X1).

Side-effecting writers cannot be hash-compared directly, so each query here
RUNS the writer against a fresh temp target and returns the deterministic
post-state as a DataFrame; the oracle expresses the same post-state in pure
SQL over the input tables. That makes the sink family first-class rows in
CORRECTNESS_r{N}.json instead of pytest-only evidence.

Each invocation uses a fresh ``mkdtemp`` target, so the queries are
idempotent under driver re-runs (no state leaks between executions).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beeper_matric_etl_tool_spark import sinks
from beeper_matric_etl_tool_spark.plans.registry import register
from beeper_matric_etl_tool_spark.plans.support import workdir
from beeper_matric_etl_tool_spark.sources.tables import table


@register(
    "sink_append_poststate",
    tags=("K4", "K5", "K6", "K7", "F8"),
    oracle="""
        WITH sel AS (
            SELECT event_id, event_type FROM events
            WHERE event_type IN ('error', 'signup')
        ),
        batched AS (
            SELECT 'batched' AS surface, event_type,
                   count(*) AS n_rows,
                   count(DISTINCT event_id) AS n_distinct_ids,
                   CAST((count(*) + 99) // 100 AS BIGINT) AS n_batches,
                   (count(*) = count(DISTINCT event_id)) AS append_only
            FROM sel GROUP BY event_type
        ),
        log AS (
            SELECT 'log' AS surface, 'purchase' AS event_type,
                   count(*) AS n_rows,
                   count(DISTINCT event_id) AS n_distinct_ids,
                   CAST(NULL AS BIGINT) AS n_batches,
                   (count(*) = count(DISTINCT event_id)) AS append_only
            FROM events WHERE event_type = 'purchase'
        )
        SELECT * FROM batched UNION ALL SELECT * FROM log
    """,
)
def sink_append_poststate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The append-family kernels, both surfaces in one post-state relation:

    surface='batched' — K4 bounded write batches (db.utils.ts:154-202 chops
    multi-row inserts at 100 rows/statement; here: ≤100 rows per output
    task/file). Proves rows landed append-only across two writer calls AND
    the physical batching contract: files-per-type = ceil(rows/100),
    counted from the parquet file names themselves.
    surface='log' — K5/K6/K7 append-only status/credential/checkpoint logs
    (db.utils.ts:204-238, 282-290) with F8 current-timestamp stamping; the
    stamp is nondeterministic by design, so the post-state checks its
    presence/non-nullness while hashing only deterministic columns
    (n_batches is NULL — no batching contract on the log surface)."""
    events = table(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    append_target = os.path.join(workdir("sink-twin-"), "append_target")
    sinks.batched_append(
        events.filter(F.col("event_type") == "error").drop("value"), append_target
    )
    sinks.batched_append(
        events.filter(F.col("event_type") == "signup").drop("value"), append_target
    )
    back = spark.read.parquet(append_target).withColumn("__file", F.input_file_name())
    batched = back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("event_id").alias("n_distinct_ids"),
        F.countDistinct("__file").alias("n_batches"),
        (F.count(F.lit(1)) == F.countDistinct("event_id")).alias("append_only"),
    ).select(F.lit("batched").alias("surface"), "*")

    log_target = os.path.join(workdir("sink-twin-"), "log_target")
    sinks.append_log(
        events.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "value"),
        log_target,
    )
    log_back = spark.read.parquet(log_target)
    if "created_at" not in log_back.columns:  # F8 stamp present — a bare
        # assert would be stripped under python -O and silently pass
        raise ValueError("append_log lost its F8 created_at stamp")
    log = log_back.filter(F.col("created_at").isNotNull()).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("event_id").alias("n_distinct_ids"),
        F.lit(None).cast("long").alias("n_batches"),
        (F.count(F.lit(1)) == F.countDistinct("event_id")).alias("append_only"),
    ).select(
        F.lit("log").alias("surface"), F.lit("purchase").alias("event_type"),
        "n_rows", "n_distinct_ids", "n_batches", "append_only",
    )
    return batched.unionByName(log)


@register(
    "sink_config_poststate",
    tags=("K9",),
    oracle="""
        SELECT 'true' AS sync_enabled,
               (SELECT count(*) FROM region) AS page_size,
               'dark' AS theme
    """,
)
def sink_config_poststate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K9 — the dynamic-column config upsert (routes.ts:268-271, intent per
    SURVEY §8 B5). Two upserts against a fresh target: the second changes
    one value AND introduces a new column (schema evolution). The
    post-state must show the merged row — old keys kept, changed key
    updated, new key added."""
    target = os.path.join(workdir("sink-twin-"), "config_target")
    n_regions = table(spark, sf_dir, "region").count()
    sinks.upsert_config(spark, target, {"sync_enabled": "true", "page_size": 1})
    final = sinks.upsert_config(spark, target, {"page_size": n_regions, "theme": "dark"})
    return final.select(
        F.col("sync_enabled"),
        F.col("page_size").cast("long").alias("page_size"),
        F.col("theme"),
    )


@register(
    "compaction_poststate",
    tags=("compact",),
    oracle="""
        WITH err AS (SELECT count(*) AS n FROM events WHERE event_type = 'error'),
             sig AS (SELECT count(*) AS n FROM events WHERE event_type = 'signup')
        SELECT CAST(err.n + sig.n AS BIGINT) AS n_rows,
               CAST(err.n + sig.n AS BIGINT) AS n_distinct_ids,
               CAST((err.n + 99) // 100 + (sig.n + 99) // 100 AS BIGINT)
                 AS n_files_before,
               CAST(1 AS BIGINT) AS n_files_after,
               (err.n + sig.n > 0) AS rows_preserved
        FROM err, sig
    """,
)
def compaction_poststate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (`sinks.compact_target`) as a driver-checkable
    post-state: two batched appends pile up ceil(n/100) files each (the K4
    batching contract), compaction rewrites the target to ONE file, and
    the relation proves the full contract — file count before (= the
    writer's batch arithmetic, re-derived by the oracle from row counts
    alone), file count after (counted from the parquet file names), and
    row preservation (every event id survives the rewrite exactly once)."""
    events = table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    target = os.path.join(workdir("sink-twin-"), "compact_target")
    sinks.batched_append(events.filter(F.col("event_type") == "error"), target)
    sinks.batched_append(events.filter(F.col("event_type") == "signup"), target)
    removed = sinks.compact_target(
        spark, target, target_files=1, min_files_to_compact=1
    )
    back = spark.read.parquet(target).withColumn("__file", F.input_file_name())
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("event_id").alias("n_distinct_ids"),
        F.lit(removed).cast("long").alias("n_files_before"),
        F.countDistinct("__file").alias("n_files_after"),
        (F.count(F.lit(1)) == F.countDistinct("event_id")).alias("rows_preserved"),
    )


@register(
    "sink_keyed_update_poststate",
    tags=("K8", "X1"),
    oracle="""
        SELECT s_suppkey, s_name,
               CASE WHEN s_suppkey % 10 = 0 THEN s_acctbal + 100.0
                    ELSE s_acctbal END AS s_acctbal
        FROM supplier
    """,
)
def sink_keyed_update_poststate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8 — `UPDATE … WHERE key = ?` with 0-row-match error
    (db.utils.ts:240-269): seed a credentials-shaped table (X1 layout
    write), apply a keyed update to every 10th key, return the full
    post-state. Untouched rows must be byte-equal; touched rows show the
    new balance."""
    creds = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    target = os.path.join(workdir("sink-twin-"), "creds_target")
    # X1 layout + hash-bucket partitioning: the later keyed_update reads and
    # rewrites ONLY the buckets its keys hash into (partition-pruned MERGE)
    sinks.write_indexed(
        creds.withColumn(sinks.BUCKET_COL, sinks.key_bucket(["s_suppkey"], 8)),
        target,
        partition_by=(sinks.BUCKET_COL,),
        sort_within=("s_suppkey",),
    )
    updates = (
        creds.filter(F.col("s_suppkey") % 10 == 0)
        .select("s_suppkey", (F.col("s_acctbal") + F.lit(100.0)).alias("s_acctbal"))
    )
    changed = sinks.keyed_update(spark, target, updates, keys=["s_suppkey"], n_buckets=8)
    if changed <= 0:  # the reference errors on 0-row updates; ours returns
        # count — raise (not assert: python -O would strip the check)
        raise ValueError("sink_keyed_update_poststate: update changed 0 rows")
    return spark.read.parquet(target).select("s_suppkey", "s_name", "s_acctbal")
