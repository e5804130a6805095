"""Product quantization (PQ) for memory-bounded similarity search
(SURVEY §2.12 scale path; Jégou et al., "Product Quantization for
Nearest Neighbor Search", TPAMI 2011 — public method, Spark-first
implementation).

Why it exists: at 100 TB an embedding corpus does not fit anywhere near
memory (1e10 vectors × 768 float32 ≈ 30 TB of raw vectors). PQ splits
each vector into ``m`` contiguous subvectors, k-means-codes each subspace
with its own ``k``-entry codebook, and stores the corpus as ``m`` small
integers per vector — m·⌈log₂k⌉ bits (e.g. 8 bytes at m=8, k=256)
instead of 4·dim bytes, a 100–400× compression that turns the scan side
of ANN into something a cluster's aggregate RAM actually holds. Scoring
never decodes: an asymmetric-distance (ADC) lookup table of the query
against every codebook entry (n_queries × m × k floats, driver-resident
by construction) turns each corpus row's score into ``m`` table gathers.

Plan shapes (all linear, no corpus×corpus anything):

- ``train_pq``: ONE joint Lloyd loop for all m subspaces — the shared
  ``ext/clustering.py:_lloyd`` with the (m, k, dsub) codebook tensor kept
  on the driver. Per round: one pass over the persisted corpus (a
  shuffle-free ``mapInPandas`` that assigns each subvector and emits the
  partition's integer partial sums), then one groupBy-sum of
  (subspace, cluster, position) partials — m·k·dsub shuffled rows
  ( = one codebook), NOT corpus-sized — collected to the driver.
- ``encode_pq``: one shuffle-free ``mapInPandas`` pass — m vectorized
  argmins per Arrow batch, emitting the m-code array.
- ``pq_topk``: one shuffle-free ADC scoring pass over the ENCODED corpus
  (never the raw vectors), then the same bounded top-k window the exact
  path uses; optional exact re-rank of the top ``refine`` candidates
  joins true vectors back for only candidate rows — the IVF-PQ+refine
  pattern, making ADC's approximation a recall knob instead of a result.

Determinism contract: the Lloyd UPDATE sums quantized longs (exact,
order-independent), so training itself is bit-stable across partition
layouts — not merely everything downstream of a frozen codebook; trained
centroids are additionally frozen to EXACT integers
(floor(c·2¹⁶), the repo-wide quantization convention) before encoding or
scoring — codes and ADC scores are then integer arithmetic end to end:
``adc_score(q, x) == dot(quantize(q), reconstruct(codes(x)))`` holds
EXACTLY (pinned in tests), re-runs are bit-stable, and ties break toward
the lower code/id everywhere (np.argmin keeps the first minimum).

Reference parity note: the reference system (TypeScript/Postgres CRUD —
see SURVEY §2) has no vector operators at all; this module is part of
the mandated LLM-pipeline extension tier, alongside ext/similarity.py
(brute/IVF/LSH) and ext/clustering.py (k-means) which it composes with.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from beeper_matric_etl_tool_spark.ext.clustering import (
    _lloyd,
    _nearest,
    _seed,
    _sq_dist,
    kmeans,
)
from beeper_matric_etl_tool_spark.ext.similarity import MAX_PROBES, QUANT


def _check_geometry(dim: int, m: int) -> int:
    if m <= 0 or dim % m != 0:
        raise ValueError(
            f"product quantization needs dim divisible by m, got dim={dim}, "
            f"m={m} — choose m from the divisors of the embedding width"
        )
    return dim // m


def split_subvectors(vec, m: int, dsub: int):
    """array<…>[dim] → array of m contiguous dsub-slices (1-based slice
    per Spark convention). Pure column algebra — the fan-out happens at
    the row's location, no shuffle."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.slice(vec, j * F.lit(dsub) + 1, dsub),
    )


def _codebook_tensor(codebooks: DataFrame) -> tuple[np.ndarray, int, int, int]:
    """Driver-resident (m, k, dsub) float64 tensor from the codebook
    relation — m·k rows by construction (the bounded-collect class the
    round-5 audit documents: a codebook IS small, that is the point)."""
    rows = codebooks.select("subspace", "cluster_id", "centroid").collect()
    if not rows:
        raise ValueError("empty codebook relation")
    m = max(r["subspace"] for r in rows) + 1
    k = max(r["cluster_id"] for r in rows) + 1
    dsub = len(rows[0]["centroid"])
    C = np.zeros((m, k, dsub), dtype=np.float64)
    seen = np.zeros((m, k), dtype=bool)
    for r in rows:
        C[r["subspace"], r["cluster_id"]] = r["centroid"]
        seen[r["subspace"], r["cluster_id"]] = True
    if not seen.all():
        missing = int((~seen).sum())
        raise ValueError(
            f"codebook is ragged: {missing} (subspace, cluster) entries "
            f"missing of m·k = {m}·{k} — train_pq always emits a full grid"
        )
    return C, m, k, dsub


def train_pq(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    iterations: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Train the m per-subspace codebooks in ONE joint Lloyd loop (the
    shared `ext/clustering.py:_lloyd`, with m subspaces). Returns
    (subspace, cluster_id, centroid: array<double> of EXACT integers
    floor(c·2¹⁶)) — frozen to the repo's quantized-integer convention at
    the end of training so every downstream code/score is integer-exact
    (module docstring).

    Deterministic init mirrors ext/clustering.py:kmeans: the k lowest-id
    vectors seed every subspace (their j-th subvectors seed subspace j).
    Empty clusters keep their previous centroid, so the emitted grid is
    always full m×k."""
    corpus = df.select(F.col(id_col), F.col(vec_col)).persist()
    try:
        seeds = _seed(corpus, k, vec_col, id_col)
        dsub = _check_geometry(seeds.shape[1], m)
        C = _lloyd(
            corpus, seeds.reshape(len(seeds), m, dsub).transpose(1, 0, 2),
            iterations, vec_col,
        )
    finally:
        corpus.unpersist()
    _, ck, _ = C.shape
    # freeze to exact integers — from here on everything is integer math.
    # An Arrow table plans as a LocalRelation: read without a job.
    return df.sparkSession.createDataFrame(
        pa.table({
            "subspace": np.repeat(np.arange(m), ck),
            "cluster_id": np.tile(np.arange(ck), m),
            "centroid": list(np.floor(C * QUANT).reshape(m * ck, dsub)),
        }),
        "subspace int, cluster_id bigint, centroid array<double>",
    )


def encode_pq(
    df: DataFrame,
    codebooks: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, codes: array<int> length m) — one shuffle-free pass; per
    Arrow batch, m vectorized argmins of ‖quantize(subvec) − centroid‖²
    against the resident codebook tensor (centroids are already exact
    integers; the subvector is quantized identically, so the argmin
    compares integers and re-runs are bit-stable)."""
    C, m, k, dsub = _codebook_tensor(codebooks)
    cn2 = np.einsum("mkd,mkd->mk", C, C)
    id_type = df.schema[id_col].dataType.simpleString()
    if id_type not in ("bigint", "int", "smallint", "tinyint", "string"):
        raise ValueError(
            f"encode_pq: unsupported id column type {id_type!r} — use an "
            f"integral or string id"
        )

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.floor(
                np.vstack(pdf[vec_col].to_numpy()).astype(np.float64) * QUANT
            )
            n = len(pdf)
            codes = np.empty((n, m), dtype=np.int64)
            for j in range(m):
                codes[:, j] = _nearest(V[:, j * dsub : (j + 1) * dsub], C[j], cn2[j])
            yield pd.DataFrame({id_col: pdf[id_col], "codes": list(codes)})

    return df.select(id_col, vec_col).mapInPandas(
        gen, f"{id_col} {id_type}, codes array<bigint>"
    )


def reconstruct_pq(
    encoded: DataFrame, codebooks: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """(id, vec: array<double>) — decode codes back to the quantized-
    integer centroid concatenation. Exists for audits and the exactness
    pin (adc == dot(q, reconstruct(x))); production scoring never calls
    it."""
    C, m, k, dsub = _codebook_tensor(codebooks)
    id_type = encoded.schema[id_col].dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.vstack(pdf["codes"].to_numpy()).astype(np.int64)
            out = np.concatenate(
                [C[j][codes[:, j]] for j in range(m)], axis=1
            )
            yield pd.DataFrame({id_col: pdf[id_col], "vec": list(out)})

    return encoded.mapInPandas(gen, f"{id_col} {id_type}, vec array<double>")


def _empty_topk(probes, encoded, probe_id: str, id_col: str) -> DataFrame:
    """Typed empty (query_id, vec_id, score, rank) frame — the clean
    result for an empty probe batch (np.vstack on zero rows would
    otherwise throw an opaque numpy error)."""
    from pyspark.sql import types as T

    return probes.sparkSession.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField(probe_id, probes.schema[probe_id].dataType),
                T.StructField(id_col, encoded.schema[id_col].dataType),
                T.StructField("score", T.DoubleType()),
                T.StructField("rank", T.IntegerType()),
            ]
        ),
    )


#: enforced probe ceiling for the FLAT ADC scan (pq_topk/search_pq): the
#: scorer's output is n_probes × batch_rows rows per Arrow batch, so the
#: limit must match that memory model — not the far-looser MAX_PROBES
#: bound the per-pair scorers (cosine_topk, search_ivf_pq) can afford.
#: At 4096 probes × ~10k-row batches the transient frame is ~40M slim
#: rows per batch worst-case; the probe axis is additionally chunked
#: (PQ_PROBE_CHUNK) so the resident score matrix stays ~tens of MB.
MAX_FLAT_PROBES = 4_096

#: probe-axis chunk inside the flat ADC scorer — bounds the per-batch
#: score matrix at PQ_PROBE_CHUNK × batch_rows doubles regardless of how
#: many probes the caller sends (within MAX_FLAT_PROBES).
PQ_PROBE_CHUNK = 128


def pq_topk(
    probes: DataFrame,
    encoded: DataFrame,
    codebooks: DataFrame,
    k: int = 10,
    refine: int = 0,
    corpus: DataFrame | None = None,
    probe_id: str = "query_id",
    probe_vec: str = "embedding",
    id_col: str = "vec_id",
    corpus_vec: str | None = None,
    max_probes: int = MAX_FLAT_PROBES,
) -> DataFrame:
    """(query_id, vec_id, score, rank) — top-k by ADC inner product: each
    query's lookup table L[j, c] = quantize(q_subvec_j) · centroid[j, c]
    is built driver-side (n_probes × m × k integers), and every
    encoded corpus row scores as Σⱼ L[j, codes[j]] — m integer gathers,
    no decode, no shuffle before the bounded top-k window.

    Scale note: without a coarse partitioner the scored relation is
    n_probes × corpus rows (the brute-force ANN shape — same as
    `cosine_topk`, just over 100-400× smaller rows); the production
    composition prunes the CODES scan with an IVF probe map first
    (`search_ivf_pq`) so ADC scores ~corpus/k rows per probe. The flat
    scan therefore enforces its OWN probe ceiling (``max_probes``,
    default MAX_FLAT_PROBES — far below the per-pair scorers'
    MAX_PROBES) so the enforced limit matches the n_probes × batch_rows
    memory model, and chunks the probe axis (PQ_PROBE_CHUNK) inside the
    scorer so the resident matrix is chunk-bounded whatever the caller
    sends.

    ``refine > 0`` re-ranks each query's top-``refine`` ADC candidates by
    EXACT quantized inner product against the true vectors (``corpus``
    required): a semi-join-shaped candidate join touches only
    n_probes·refine corpus rows, so recall is a knob that costs candidate
    rows, not a second corpus scan of the full width."""
    if refine and corpus is None:
        raise ValueError("pq_topk: refine > 0 requires the raw corpus")
    if max_probes > MAX_PROBES:
        raise ValueError(
            f"pq_topk: max_probes={max_probes} exceeds the driver-matrix "
            f"contract MAX_PROBES={MAX_PROBES}"
        )
    C, m, ck, dsub = _codebook_tensor(codebooks)
    probe_rows = probes.select(probe_id, probe_vec).take(max_probes + 1)
    if len(probe_rows) > max_probes:
        raise ValueError(
            f"pq_topk: more than max_probes={max_probes} probe rows — the "
            f"flat ADC scan emits n_probes × batch_rows rows per Arrow "
            f"batch, so large probe sets must be batched by the caller or "
            f"routed through search_ivf_pq (per-pair scoring, pruned "
            f"candidates)"
        )
    if not probe_rows:
        return _empty_topk(probes, encoded, probe_id, id_col)
    qids = [r[0] for r in probe_rows]
    Q = np.floor(
        np.vstack([r[1] for r in probe_rows]).astype(np.float64) * QUANT
    )
    # L[q, j, c] = q_subvec_j · centroid[j, c] — exact integer values
    L = np.einsum("qjd,jcd->qjc", Q.reshape(len(qids), m, dsub), C)

    qid_type = probes.schema[probe_id].dataType.simpleString()
    id_type = encoded.schema[id_col].dataType.simpleString()

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.vstack(pdf["codes"].to_numpy()).astype(np.int64)
            n = len(pdf)
            ids = pdf[id_col].to_numpy()
            # probe-axis chunking: the resident score matrix is
            # chunk × batch_rows, and each yielded frame carries only one
            # chunk's cross — peak memory is bounded by PQ_PROBE_CHUNK,
            # not by how many probes the caller sent
            for lo in range(0, len(qids), PQ_PROBE_CHUNK):
                hi = min(lo + PQ_PROBE_CHUNK, len(qids))
                # gather per subspace: S[q, row] = Σ_j L[q, j, codes[row, j]]
                S = np.zeros((hi - lo, n), dtype=np.float64)
                for j in range(m):
                    S += L[lo:hi, j, :][:, codes[:, j]]
                yield pd.DataFrame(
                    {
                        probe_id: np.repeat(qids[lo:hi], n),
                        id_col: np.tile(ids, hi - lo),
                        "score": S.reshape(-1),
                    }
                )

    scored = encoded.mapInPandas(
        score, f"{probe_id} {qid_type}, {id_col} {id_type}, score double"
    )
    w = Window.partitionBy(probe_id).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    take = max(k, refine)
    top = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= take)
    )
    if not refine:
        return top.select(probe_id, id_col, "score", "rank")

    # exact re-rank of the bounded candidate set: join true vectors back
    # for candidate rows only, score by exact quantized inner product
    from beeper_matric_etl_tool_spark.ext.similarity import dot, quantize

    qdf = probes.select(
        F.col(probe_id), quantize(F.col(probe_vec)).alias("__q")
    )
    cand = (
        top.select(probe_id, id_col)
        .join(
            corpus.select(
                F.col(id_col),
                quantize(F.col(corpus_vec or probe_vec)).alias("__v"),
            ),
            on=id_col,
        )
        .join(F.broadcast(qdf), on=probe_id)
    )
    exact = cand.select(
        probe_id, id_col, dot(F.col("__q"), F.col("__v")).alias("score")
    )
    w2 = Window.partitionBy(probe_id).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(probe_id, id_col, "score", "rank")
    )


# ---------------------------------------------------------------------------
# Persisted PQ index — build/probe/append lifecycle
# ---------------------------------------------------------------------------


def build_pq_index(
    emb: DataFrame,
    path: str,
    m: int = 8,
    k: int = 16,
    iterations: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Train codebooks and persist the index: ``codebooks/`` (m·k rows)
    + ``codes/`` (one m-code row per vector). The probe side then never
    touches raw vectors — the codes table is the 100-400×-smaller scan
    ADC works from (the `build_ivf_index` / `build_dedup_index`
    lifecycle precedent: amortize the expensive pass, read the compact
    artifact per query)."""
    import os

    books = train_pq(
        emb, m=m, k=k, iterations=iterations, vec_col=vec_col, id_col=id_col
    )
    books.write.mode("overwrite").parquet(os.path.join(path, "codebooks"))
    encode_pq(emb, books, vec_col=vec_col, id_col=id_col).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "codes"))


def append_pq_index(
    new_vectors: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Encode a NEW batch against the FROZEN codebooks and append its
    codes — the steady-state ingest move: no retraining, no touch of the
    existing codes, one linear pass over the batch. (Codebook drift is a
    rebuild decision, not an append decision — monitor reconstruction
    error and rebuild when the corpus distribution moves.)"""
    import os

    spark = new_vectors.sparkSession
    books = spark.read.parquet(os.path.join(path, "codebooks"))
    encode_pq(new_vectors, books, vec_col=vec_col, id_col=id_col).write.mode(
        "append"
    ).parquet(os.path.join(path, "codes"))


def search_pq(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    refine: int = 0,
    corpus: DataFrame | None = None,
    probe_id: str = "query_id",
    probe_vec: str = "embedding",
    id_col: str = "vec_id",
    corpus_vec: str | None = None,
    max_probes: int = MAX_FLAT_PROBES,
) -> DataFrame:
    """Probe the persisted index: ADC top-k over the ``codes/`` scan
    (raw vectors are read ONLY when ``refine`` asks for the exact
    re-rank, and then only for candidate rows). Same contract as
    :func:`pq_topk` — this is the one-call deployment surface, including
    the flat scan's ``max_probes`` ceiling."""
    import os

    books = spark.read.parquet(os.path.join(path, "codebooks"))
    codes = spark.read.parquet(os.path.join(path, "codes"))
    return pq_topk(
        queries,
        codes,
        books,
        k=k,
        refine=refine,
        corpus=corpus,
        probe_id=probe_id,
        probe_vec=probe_vec,
        id_col=id_col,
        corpus_vec=corpus_vec,
        max_probes=max_probes,
    )


def build_ivf_pq_index(
    emb: DataFrame,
    path: str,
    ivf_k: int = 8,
    m: int = 8,
    k: int = 16,
    iterations: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """IVF-PQ: the coarse quantizer (k-means, `ext/clustering.py`) picks
    WHICH codes to scan, PQ decides how small each scanned row is — the
    composition every billion-vector ANN deployment runs. Persists
    ``centroids/`` (ivf_k rows), ``codebooks/`` (m·k rows) and
    ``codes/`` hive-partitioned by ``cluster_id`` so a probe is a
    partition-pruned read of ~nprobe/ivf_k of an already-100-400×-
    compressed table."""
    import os

    assignments, centroids = kmeans(
        emb, k=ivf_k, iterations=iterations, vec_col=vec_col, id_col=id_col
    )
    centroids.write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    books = train_pq(
        emb, m=m, k=k, iterations=iterations, vec_col=vec_col, id_col=id_col
    )
    books.write.mode("overwrite").parquet(os.path.join(path, "codebooks"))
    (
        encode_pq(emb, books, vec_col=vec_col, id_col=id_col)
        .join(assignments.select(id_col, "cluster_id"), on=id_col)
        .repartition(F.col("cluster_id"))
        .write.mode("overwrite")
        .partitionBy("cluster_id")
        .parquet(os.path.join(path, "codes"))
    )


def search_ivf_pq(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    refine: int = 0,
    corpus: DataFrame | None = None,
    probe_id: str = "query_id",
    probe_vec: str = "embedding",
    id_col: str = "vec_id",
    corpus_vec: str | None = None,
) -> DataFrame:
    """Probe the IVF-PQ index: per query, restrict to its ``nprobe``
    nearest coarse clusters (broadcast of ivf_k centroid rows), then ADC-
    score ONLY the candidate (query, code-row) pairs the probe map
    joins up — unlike the flat `pq_topk` scan, a query never scores a
    vector outside its probed clusters, so compute is
    Σ_q |probed clusters of q| code rows, not n_probes × corpus. The
    per-pair score is the same integer ADC gather (resident lookup
    table, Arrow-batched pandas_udf). ``nprobe = ivf_k`` degenerates to
    exactly the flat scan's results (pinned in tests); ``refine``
    re-ranks candidates by exact quantized dot as in `pq_topk`."""
    import os

    import pandas as _pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    if refine and corpus is None:
        raise ValueError("search_ivf_pq: refine > 0 requires the raw corpus")
    centroids = spark.read.parquet(os.path.join(path, "centroids"))
    books = spark.read.parquet(os.path.join(path, "codebooks"))
    codes = spark.read.parquet(os.path.join(path, "codes"))
    C, m, ck, dsub = _codebook_tensor(books)

    probe_rows = queries.select(probe_id, probe_vec).take(MAX_PROBES + 1)
    if len(probe_rows) > MAX_PROBES:
        raise ValueError(
            f"search_ivf_pq: more than MAX_PROBES={MAX_PROBES} probe rows"
        )
    if not probe_rows:
        return _empty_topk(queries, codes, probe_id, id_col)
    qids = [r[0] for r in probe_rows]
    qindex = {q: i for i, q in enumerate(qids)}
    Q = np.floor(
        np.vstack([r[1] for r in probe_rows]).astype(np.float64) * QUANT
    )
    L = np.einsum("qjd,jcd->qjc", Q.reshape(len(qids), m, dsub), C)

    probed = queries.select(probe_id, probe_vec).crossJoin(
        F.broadcast(centroids)
    ).withColumn("__d", _sq_dist(F.col(probe_vec), F.col("centroid")))
    w = Window.partitionBy(probe_id).orderBy(
        F.col("__d").asc(), F.col("cluster_id").asc()
    )
    probe_map = (
        probed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= nprobe)
        .select(probe_id, "cluster_id")
    )
    cand = F.broadcast(probe_map).join(codes, on="cluster_id")

    def _adc(qcol, codecol):
        qi = qcol.map(qindex).to_numpy()
        codes_m = np.vstack(codecol.to_numpy()).astype(np.int64)
        s = np.zeros(len(qi), dtype=np.float64)
        for j in range(m):
            s += L[qi, j, codes_m[:, j]]
        return _pd.Series(s)

    _adc.__annotations__ = {
        "qcol": _pd.Series, "codecol": _pd.Series, "return": _pd.Series
    }
    adc = pandas_udf(T.DoubleType())(_adc)

    scored = cand.select(
        probe_id, id_col, adc(F.col(probe_id), F.col("codes")).alias("score")
    )
    w2 = Window.partitionBy(probe_id).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    take = max(k, refine)
    top = scored.withColumn("rank", F.row_number().over(w2)).filter(
        F.col("rank") <= take
    )
    if not refine:
        return top.select(probe_id, id_col, "score", "rank")
    from beeper_matric_etl_tool_spark.ext.similarity import dot, quantize

    qdf = queries.select(probe_id, quantize(F.col(probe_vec)).alias("__q"))
    exact = (
        top.select(probe_id, id_col)
        .join(
            corpus.select(
                F.col(id_col),
                quantize(F.col(corpus_vec or probe_vec)).alias("__v"),
            ),
            on=id_col,
        )
        .join(F.broadcast(qdf), on=probe_id)
        .select(probe_id, id_col, dot(F.col("__q"), F.col("__v")).alias("score"))
    )
    w3 = Window.partitionBy(probe_id).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w3))
        .filter(F.col("rank") <= k)
        .select(probe_id, id_col, "score", "rank")
    )
