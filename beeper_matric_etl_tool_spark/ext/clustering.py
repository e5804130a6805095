"""Distributed k-means over embedding columns — the offline half of IVF
similarity search (SURVEY §2.12 scale path).

`knn_search` (ivf strategy) prunes probes to a coarse partition; this module *builds* that
partition assignment when none exists. One Lloyd loop serves both k-means
and product quantization (`ext/quantization.py:train_pq`): the centroids
live on the driver as an (m, k, dsub) numpy tensor — plain k-means is
m = 1, PQ trains m subspaces of dsub contiguous positions at once — and
each round is ONE pass over the persisted corpus plus one aggregate:

  assign+sum: mapInPandas with the resident centroid tensor: one
              vectorized ‖c−v‖² argmin per subspace per Arrow batch, and
              in the same pass the partition's exact integer sums of
              floor(v·2¹⁶) and member counts per (subspace, cluster,
              position). No shuffle of vectors, no per-pair arrays.
  combine:    a groupBy-sum of those partials (m·k·dsub rows — one
              codebook, not corpus-sized), collected to the driver, which
              takes the means; a cluster with no members keeps its
              previous centroid.

Integer addition is exact and order-independent, so the trained centroids
are bit-stable across input partitionings. Iterations are bounded and
deterministic: init picks the first k vectors by id, ties in argmin break
toward the lower cluster id (numpy argmin keeps the first minimum).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from beeper_matric_etl_tool_spark.ext.similarity import QUANT, dot


def _sq_dist(a, b):
    diff = F.zip_with(a, b, lambda x, y: x.cast("double") - y.cast("double"))
    return dot(diff, diff)


def _nearest(V: np.ndarray, C: np.ndarray, cn2: np.ndarray) -> np.ndarray:
    """Row-wise argmin of ‖v−c‖² over the rows of C (cn2 = ‖c‖²):
    argmin (‖c‖² − 2 v·c), since ‖v‖² is constant per row. Ties go to
    the lower centroid index (np.argmin keeps the first minimum)."""
    return np.argmin(cn2[None, :] - 2.0 * (V @ C.T), axis=1)


def _seed(corpus: DataFrame, k: int, vec_col: str, id_col: str) -> np.ndarray:
    """(k', dim) float64 — the k lowest-id vectors (k' < k only when the
    corpus is smaller). Seeds come from a REAL ordering (the vector id),
    not row order, which is a plan artifact: a seed permutation would flip
    distance-tie assignments."""
    rows = corpus.orderBy(F.col(id_col).asc()).limit(k).select(vec_col).collect()
    dim = len(rows[0][0]) if rows else 0
    return np.array([r[0] for r in rows], dtype=np.float64).reshape(len(rows), dim)


def _lloyd(corpus: DataFrame, C: np.ndarray, iterations: int, vec_col: str) -> np.ndarray:
    """Run ``iterations`` Lloyd rounds from the (m, k, dsub) float64
    centroid tensor ``C`` over the (persisted) ``corpus``; subspace j
    covers vector positions [j·dsub, (j+1)·dsub). Returns the updated
    tensor. Each round is one aggregate-and-collect: the update sums
    QUANTIZED LONGS, not raw doubles, so the mean (exact long sum / count
    / 2¹⁶, a power-of-two rescale) is the same on any partition layout
    or shuffle order; the 2⁻¹⁶ resolution loss per step is far below
    k-means' own convergence tolerance."""
    m, k, dsub = C.shape
    for _ in range(iterations):
        cn2 = np.einsum("mkd,mkd->mk", C, C)

        def partial_sums(batches, C=C, cn2=cn2):
            S = np.zeros((m, k, dsub), dtype=np.int64)
            N = np.zeros((m, k), dtype=np.int64)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                V = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
                Q = np.floor(V * QUANT).astype(np.int64)
                for j in range(m):
                    cols = slice(j * dsub, (j + 1) * dsub)
                    best = _nearest(V[:, cols], C[j], cn2[j])
                    np.add.at(S[j], best, Q[:, cols])
                    N[j] += np.bincount(best, minlength=k)
            js, cs = np.nonzero(N)
            yield pd.DataFrame({
                "subspace": np.repeat(js, dsub),
                "cluster_id": np.repeat(cs, dsub),
                "pos": np.tile(np.arange(dsub), len(js)),
                "s": S[js, cs].reshape(-1),
                "n": np.repeat(N[js, cs], dsub),
            })

        sums = (
            corpus.select(vec_col)
            .mapInPandas(partial_sums, "subspace int, cluster_id int, pos int, s bigint, n bigint")
            .groupBy("subspace", "cluster_id", "pos")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .toPandas()
        )
        S = np.zeros((m, k, dsub), dtype=np.int64)
        N = np.zeros((m, k, dsub), dtype=np.int64)
        at = (sums["subspace"].to_numpy(), sums["cluster_id"].to_numpy(), sums["pos"].to_numpy())
        S[at], N[at] = sums["s"].to_numpy(), sums["n"].to_numpy()
        # a cluster that lost every member keeps its previous centroid:
        # dropping it would emit < k centroids, and IVF layouts built on
        # "k coarse partitions" would quietly get coarser pruning
        C = np.where(N > 0, S / np.maximum(N, 1) / QUANT, C)
    return C


def assign_clusters(df: DataFrame, centroids: DataFrame, vec_col: str = "embedding",
                    id_col: str = "vec_id", keep_vec: bool = False) -> DataFrame:
    """(id, cluster_id[, vec]) — nearest centroid per row via one vectorized
    distance matrix per Arrow batch against the resident k×dim centroid
    matrix. Shuffle-free: the corpus partitioning passes straight through,
    and with ``keep_vec`` the vector rides along. Ties break toward the
    lower cluster id (np.argmin keeps the first minimum; centroid rows are
    ordered by cluster_id).

    The output schema is DERIVED from the input: the id column keeps its
    own type (any integral or string id works — it passes through the
    Arrow batch untouched) and ``keep_vec`` re-emits the vector column at
    its input type. Unsupported id types raise upfront with a clear
    message instead of corrupting inside the Arrow stage."""
    id_type = df.schema[id_col].dataType.simpleString()
    if id_type not in ("bigint", "int", "smallint", "tinyint", "string"):
        raise ValueError(
            f"assign_clusters: unsupported id column type {id_type!r} for "
            f"{id_col!r} — use an integral or string id (the id passes "
            f"through the Arrow stage and must round-trip exactly)"
        )
    vec_type = df.schema[vec_col].dataType.simpleString()
    if not vec_type.startswith("array<"):
        raise ValueError(
            f"assign_clusters: {vec_col!r} must be an array column, got {vec_type!r}"
        )
    cent_rows = sorted(
        centroids.select("cluster_id", "centroid").collect(), key=lambda r: r.cluster_id
    )
    cids = np.array([r.cluster_id for r in cent_rows], dtype=np.int64)
    C = np.array([r.centroid for r in cent_rows], dtype=np.float64)
    cn2 = np.einsum("ij,ij->i", C, C)

    fields = f"{id_col} {id_type}, cluster_id long" + (
        f", {vec_col} {vec_type}" if keep_vec else ""
    )

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            out = {id_col: pdf[id_col], "cluster_id": cids[_nearest(V, C, cn2)]}
            if keep_vec:
                out[vec_col] = pdf[vec_col]
            yield pd.DataFrame(out)

    return df.select(id_col, vec_col).mapInPandas(assign, fields)


def _train(
    df: DataFrame, k: int, iterations: int, vec_col: str, id_col: str
) -> tuple[DataFrame, np.ndarray, DataFrame]:
    """The training half of `kmeans`, shared with `build_ivf_index`: seed
    with the k lowest-id vectors, then `_lloyd` with m = 1 over the
    persisted (id, vec) corpus. Returns (corpus, C, centroids): the corpus,
    still persisted for a caller that reads it again (the caller
    unpersists it); the emitted (k, dim) centroid matrix, float32 for a
    float input and float64 for a double one; and the same centroids as a
    (cluster_id bigint, centroid array<float|double>) frame."""
    # persisted for the build: every round (and kmeans' final assignment)
    # reads it — the same persist MLlib's own KMeans performs on its
    # training RDD
    corpus = df.select(F.col(id_col), F.col(vec_col)).persist()
    C = _lloyd(corpus, _seed(corpus, k, vec_col, id_col)[None], iterations, vec_col)[0]
    elem, dtype = (
        ("double", np.float64)
        if df.schema[vec_col].dataType.elementType.simpleString() == "double"
        else ("float", np.float32)
    )
    C = C.astype(dtype)
    # an Arrow table plans as a LocalRelation whatever the session's Arrow
    # setting: reading the k centroid rows launches no job
    centroids = df.sparkSession.createDataFrame(
        pa.table({"cluster_id": np.arange(len(C)), "centroid": list(C)}),
        f"cluster_id bigint, centroid array<{elem}>",
    )
    return corpus, C, centroids


def kmeans(
    df: DataFrame,
    k: int = 8,
    iterations: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, DataFrame]:
    """Returns (assignments, centroids). Deterministic init: the k lowest-id
    vectors seed the centroids.

    Training is `_train` (shared with `build_ivf_index`), whose Lloyd
    rounds are `_lloyd` with m = 1: one corpus pass and one k·dim-row
    aggregate per round, whatever the embedding width — no per-dimension
    aggregate expressions, so the plan is the same size at dim 8 and dim
    4096. Centroids are emitted as array<float> (array<double> for a
    double input), one row per cluster_id."""
    corpus, _, centroids = _train(df, k, iterations, vec_col, id_col)
    # final re-assignment against the EMITTED centroids — the Lloyd
    # invariant (every vector in its argmin cluster over the returned
    # centroids) holds only then. Materialized: the assignment is
    # |corpus| skinny rows whose lazy plan would otherwise replay the
    # assign stage for every downstream reference, and the corpus cache
    # can go.
    assignments = assign_clusters(corpus, centroids, vec_col, id_col).localCheckpoint(eager=True)
    corpus.unpersist()
    return assignments, centroids
