"""Persisted IVF index — the build/probe lifecycle of ANN search at scale.

`knn_ivf_kmeans` recomputes its quantizer per query run; a real pipeline
builds the index ONCE and amortizes it:

  build:  k-means over the corpus → write `centroids/` (k rows) and
          `vectors/` parquet PARTITIONED BY cluster_id, so a cluster's
          vectors are one directory.
  probe:  assign each query to its `nprobe` nearest centroids (broadcast
          of k rows), join the vectors on cluster_id, exact cosine +
          top-k within the candidates.

`nprobe` is the recall/cost dial: 1 scores ~1/k of the data per query, k
scores all of it (== brute force). The recall test pins that more probes
⇒ no worse recall. The vectors scan itself is not partition-pruned:
every cluster is read, and the probe-map join discards the unprobed ones
(see `search_ivf`).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from beeper_matric_etl_tool_spark.ext.clustering import _nearest, _sq_dist, _train
from beeper_matric_etl_tool_spark.ext.similarity import cosine_topk  # noqa: F401 (re-export)


def build_ivf_index(
    emb: DataFrame,
    path: str,
    k: int = 8,
    iterations: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Build and persist the index: centroids + cluster-partitioned vectors.

    Trains with `kmeans`' own training half (`clustering._train`), then
    assigns in the write itself: one mapInPandas stage passes every input
    column through and appends ``cluster_id``, the nearest EMITTED
    centroid (the same argmin, ties to the lower id, as `kmeans`' final
    assignment), so no assignment frame is materialized and joined back."""
    corpus, C, centroids = _train(emb, k, iterations, vec_col, id_col)
    corpus.unpersist()
    C = C.astype(np.float64)
    cn2 = np.einsum("ij,ij->i", C, C)

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            yield pdf.assign(cluster_id=_nearest(V, C, cn2))

    # the stored column order is (id, other input columns, cluster_id)
    emb = emb.select(id_col, *(c for c in emb.columns if c != id_col))
    clustered = emb.mapInPandas(
        assign, StructType(emb.schema.fields + [StructField("cluster_id", LongType())])
    )
    centroids.write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    (
        clustered.repartition(F.col("cluster_id"))
        .write.mode("overwrite")
        .partitionBy("cluster_id")
        .parquet(os.path.join(path, "vectors"))
    )


def _read_centroids(spark: SparkSession, path: str) -> DataFrame:
    """The index's centroids under a fixed schema, so the read plans with
    no schema-inference job. A float build stores array<float>, which the
    parquet readers widen to double exactly; `_sq_dist` computes in double
    either way, so every distance is unchanged."""
    return spark.read.schema("cluster_id bigint, centroid array<double>").parquet(
        os.path.join(path, "centroids")
    )


def append_ivf_index(
    emb: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Steady-state GROWTH under a FROZEN quantizer (r13 — the IVF
    lifecycle step every production ANN store has): assign each new
    vector to its nearest EXISTING centroid (broadcast of k rows, the
    probe's own assignment rule, ties to the lower cluster_id) and
    append into that cluster's partition — no k-means re-run, no
    rewrite of existing vectors, and the next `search_ivf` sees the
    rows with zero coordination. The honesty trade every IVF deployment
    makes: heavy drift skews clusters (recall decays toward more
    nprobe), which is what `ivf_index_report`'s per-cluster sizes are
    for — rebuild when the imbalance says so. Only (id, vector,
    cluster_id) are appended — extra columns the build happened to
    store (e.g. a label) null-fill on merged reads; `search_ivf` never
    reads them."""
    centroids = _read_centroids(emb.sparkSession, path)
    scored = emb.crossJoin(F.broadcast(centroids)).withColumn(
        "__d", _sq_dist(F.col(vec_col), F.col("centroid"))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("__d").asc(), F.col("cluster_id").asc()
    )
    assigned = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(F.col(id_col), F.col(vec_col), "cluster_id")
    )
    (
        assigned.write.mode("append")
        .partitionBy("cluster_id")
        .parquet(os.path.join(path, "vectors"))
    )


def compact_ivf_index(spark: SparkSession, path: str) -> int:
    """Fold each cluster partition's accumulated append files into one
    well-sized file per cluster (r13) — `append_ivf_index` adds a file
    per append batch per touched cluster, and after ~10⁴ appends every
    search pays the listing and tiny-file open cost (the batched
    families' small-file problem, on the cluster axis). Same crash
    posture as `compact_batched_tables`: rewrite into `vectors.compact`
    (one file per cluster via a cluster-keyed repartition), swap with
    two renames, heal a stranded original on the next call. Rows and
    search verdicts are unchanged. Returns the row count."""
    import shutil

    if not os.path.isdir(os.path.join(path, "centroids")):
        raise FileNotFoundError(
            f"ivf index at {path!r} has no centroids/ — not an index "
            f"built by build_ivf_index"
        )
    src = os.path.join(path, "vectors")
    tmp = src + ".compact"
    old = src + ".old"
    if not os.path.exists(src) and os.path.exists(old):
        os.rename(old, src)  # heal a crashed prior swap
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    df = spark.read.parquet(src)
    (
        df.repartition(F.col("cluster_id"))
        .write.mode("overwrite")
        .partitionBy("cluster_id")
        .parquet(tmp)
    )
    n = spark.read.parquet(tmp).count()
    os.rename(src, old)
    os.rename(tmp, src)
    shutil.rmtree(old)
    return int(n)


def delete_from_ivf_index(
    spark: SparkSession, path: str, ids, id_col: str = "vec_id"
) -> dict[str, int]:
    """Remove vectors from the persisted IVF index — the takedown
    cascade on the embedding plane (r13), sharing the batched families'
    deletion core with ``cluster_id`` as the partition axis: only the
    clusters holding doomed vectors are rewritten (staged swap, crash
    healing, idempotent re-runs), so the cost tracks the deletion's
    blast radius, not the corpus."""
    from beeper_matric_etl_tool_spark.ext.dedup_index import (
        delete_from_batched_tables,
    )

    if not os.path.isdir(os.path.join(path, "centroids")):
        raise FileNotFoundError(
            f"ivf index at {path!r} has no centroids/ — not an index "
            f"built by build_ivf_index"
        )
    return delete_from_batched_tables(
        spark, path, ("vectors",), id_col, ids, partition_col="cluster_id"
    )


def ivf_index_report(
    spark: SparkSession, path: str, id_col: str = "vec_id"
) -> dict:
    """Ops data card over the vector table with PER-CLUSTER sizes —
    the rebuild dial: a frozen quantizer under drifting appends shows
    up here as cluster imbalance long before recall visibly decays."""
    from beeper_matric_etl_tool_spark.ext.dedup_index import index_report

    if not os.path.isdir(os.path.join(path, "centroids")):
        raise FileNotFoundError(
            f"ivf index at {path!r} has no centroids/ — not an index "
            f"built by build_ivf_index"
        )
    return index_report(
        spark, path, ("vectors",), id_col=id_col, partition_col="cluster_id"
    )


def search_ivf(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe the persisted index: nprobe nearest clusters per query, exact
    rerank within candidates. Each query's probe-map rows carry its
    quantized vector and squared norm, so the candidates need one
    broadcast join (probe map ⋈ vectors on cluster_id).

    The vectors scan is NOT partition-pruned: every cluster is read and
    the join discards the unprobed ones. Dynamic partition pruning needs
    AQE to reuse the join's broadcast for the pruning filter, and the
    probe map's window shuffle wraps that broadcast in an AQEShuffleRead,
    so the final plan carries ``dynamicpruningexpression(true)``."""
    from beeper_matric_etl_tool_spark.ext.similarity import dot, quantize

    centroids = _read_centroids(spark, path)
    q = queries.select(F.col(id_col), F.col(vec_col))
    probed = q.crossJoin(F.broadcast(centroids)).withColumn(
        "__d", _sq_dist(F.col(vec_col), F.col("centroid"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("__d").asc(), F.col("cluster_id").asc())
    probe_map = (
        probed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= nprobe)
        .select(
            F.col(id_col).alias("__qid"),
            "cluster_id",
            quantize(F.col(vec_col)).alias("__qv"),
        )
        .withColumn("__qn2", dot(F.col("__qv"), F.col("__qv")))
    )
    vectors = spark.read.parquet(os.path.join(path, "vectors"))
    # bind candidates to EACH query's own probed clusters: the equi-join on
    # (cluster_id) against the per-query probe map — a query never scores
    # a vector outside its nprobe clusters.
    cand = (
        F.broadcast(probe_map)
        .join(vectors, on="cluster_id")
        .select(
            "__qid",
            "__qv",
            "__qn2",
            F.col(id_col).alias("neighbor_id"),
            quantize(F.col(vec_col)).alias("__cv"),
        )
        .filter(F.col("__qid") != F.col("neighbor_id"))
        .withColumn("__cn2", dot(F.col("__cv"), F.col("__cv")))
    )
    scored = cand.withColumn(
        "cosine_ppm",
        # try_divide, not /: under the session's ANSI mode a zero-norm
        # vector would otherwise raise DIVIDE_BY_ZERO mid-search; NULL
        # scores sort last under the desc rank, so degenerate vectors
        # simply never make a top-k (mirrors every other scoring path)
        F.floor(
            F.try_divide(
                F.lit(1_000_000.0) * dot(F.col("__qv"), F.col("__cv")),
                F.sqrt(F.col("__qn2")) * F.sqrt(F.col("__cn2")),
            )
        ).cast("long"),
    )
    w2 = Window.partitionBy("__qid").orderBy(
        F.col("cosine_ppm").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("__rank", F.row_number().over(w2))
        .filter(F.col("__rank") <= k)
        .select(
            F.col("__qid").alias("query_id"),
            "neighbor_id",
            "cosine_ppm",
            F.col("__rank").alias("rank"),
        )
    )
