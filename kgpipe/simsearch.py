"""Similarity search over an embedding column (array<float>).

* ``brute_force_topk`` — exact cosine top-k of every query vector against
  the corpus: JVM-side higher-order functions (zip_with + aggregate) for the
  dot product, window row_number for the top-k. The correctness baseline.
* ``lsh_topk`` — the scale path: sign-random-projection (SimHash-for-
  vectors) buckets computed in a vectorized Arrow UDF; candidates are only
  corpus vectors sharing a bucket with the query (multi-probe via several
  independent hash tables), exact cosine re-rank inside buckets. At 10^12
  rows the bucket join replaces the cross join; recall tunes with
  n_tables/n_bits.
* ``ivf_topk`` — the other classic ANN layout: a small set of coarse
  centroids partitions the corpus into inverted lists; a query probes its
  ``n_probe`` nearest lists and re-ranks exactly inside them. The corpus
  side is one narrow assignment pass + an equi-join on ``list_id`` — at
  scale the assignment is computed once and the corpus is written
  partitioned by ``list_id``, so a probe reads n_probe/n_list of the data
  (partition pruning on the scan).
* ``embedding_dup_pairs`` — embedding-cosine near-duplicate pairs
  (cosine >= threshold, id_a < id_b): ``method='exact'`` is the all-pairs
  baseline (and the DuckDB-oracle path); ``method='lsh'`` blocks with the
  same sign-random-projection buckets so only same-bucket pairs are scored.

Hyperplanes are deterministic (seeded via a fixed linear-congruential
sequence), so results are stable across runs and engines.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .worker import worker_body

__all__ = [
    "cosine_col",
    "brute_force_topk",
    "lsh_topk",
    "kmeans_centroids",
    "ivf_topk",
    "build_ivf_index",
    "ivf_topk_indexed",
    "embedding_dup_pairs",
    "label_centroids",
    "quantize_embeddings",
]


def kmeans_centroids(
    embeddings: DataFrame,
    n_list: int = 16,
    *,
    iters: int = 3,
    sample_mod: int = 5,
    quant: float = 1e6,
    sample_cap: int = 100_000,
) -> np.ndarray:
    """Deterministic sampled Lloyd k-means for the IVF coarse quantizer.

    Training data is the deterministic sample ``vec_id % sample_mod == 0``
    (capped at ``sample_cap`` rows — at 10^12 vectors raise sample_mod, the
    collect stays bounded). All arithmetic is exactly replayable by the
    DuckDB oracle:

    * coordinates are quantized to ``floor(x * quant + 0.5)`` int64;
    * seeds are the ``n_list`` lowest-vec_id sample vectors;
    * assignment minimizes the euclidean score
      ``(-2.0 * (x . s)) / n + css / (n * n)`` where ``x . s`` is an EXACT
      integer dot against the cluster's integer coordinate sum ``s``
      (order-independent), and ``css`` is the left-fold double sum of
      ``float(s_i)**2`` — identical operand order in both engines, so the
      IEEE results are bit-equal; ties break to the lower centroid index;
    * update keeps exact integer (sum, count) per cluster; an emptied
      cluster carries its previous state.

    Returns the final double centroid matrix ``s / n / quant``
    (n_list x dim). Unlike first-n-vector seeding, the means track the data
    distribution, so inverted lists stay balanced on clustered corpora
    (pytest-asserted bound)."""
    rows = (
        embeddings.where(F.col("vec_id") % sample_mod == 0)
        .orderBy("vec_id")
        .limit(sample_cap)
        .select("embedding")
        .collect()
    )
    Q = [
        [int(np.floor(float(v) * quant + 0.5)) for v in r["embedding"]]
        for r in rows
    ]
    if len(Q) < n_list:
        # corpus too small to train: fall back to the first-n seeding the
        # operator used pre-k-means (tiny inputs; the driver-scale corpora
        # always train). Keeps small-corpus callers working instead of
        # raising.
        import logging

        logging.getLogger(__name__).info(
            "kmeans_centroids: sample %d < n_list %d; first-n fallback",
            len(Q), n_list,
        )
        return _resolve_centroids(embeddings, "first", n_list)
    dim = len(Q[0])
    s = [list(q) for q in Q[:n_list]]
    n = [1] * n_list
    for _ in range(iters):
        # hoist the per-centroid constant css = sum(float(s_i)^2), left fold
        css = []
        for ci in range(n_list):
            acc = 0.0
            for v in s[ci]:
                acc += float(v) * float(v)
            css.append(acc)
        sums = [[0] * dim for _ in range(n_list)]
        counts = [0] * n_list
        for q in Q:
            best_f, best_ci = None, -1
            for ci in range(n_list):
                xs = 0
                sc = s[ci]
                for a, b in zip(q, sc):
                    xs += a * b
                f = (-2.0 * xs) / n[ci] + css[ci] / (n[ci] * n[ci])
                if best_f is None or f < best_f:
                    best_f, best_ci = f, ci
            counts[best_ci] += 1
            tgt = sums[best_ci]
            for d, v in enumerate(q):
                tgt[d] += v
        for ci in range(n_list):
            if counts[ci] > 0:
                s[ci], n[ci] = sums[ci], counts[ci]
    return np.array(
        [[si / nn / quant for si in sv] for sv, nn in zip(s, n)], dtype=np.float64
    )


def cosine_col(a, b):
    """Cosine similarity of two array<float> columns via JVM higher-order
    functions (no Python)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / (na * nb)


def _rerank_topk(cand: DataFrame, k: int, raw: bool = False) -> DataFrame:
    """Exact cosine re-rank of (query_id, vec_id, q_emb, embedding)
    candidates -> (query_id, vec_id, cosine, rank<=k). Ties break on vec_id
    for determinism; unless ``raw``, the cosine is rounded for display."""
    scored = cand.select(
        "query_id", "vec_id",
        cosine_col(F.col("q_emb"), F.col("embedding")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    cos = F.col("cosine") if raw else F.round("cosine", 6).alias("cosine")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", cos, "rank")
    )


def brute_force_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """queries(query_id, embedding) x embeddings(vec_id, embedding) ->
    (query_id, vec_id, cosine, rank<=k). The query side is broadcast (small
    dim table); ties break on vec_id for determinism."""
    q = queries.select(
        F.col("query_id"), F.col("embedding").alias("q_emb")
    )
    return _rerank_topk(embeddings.crossJoin(F.broadcast(q)), k)


def _hyperplanes(dim: int, n_bits: int, table: int) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes: LCG-seeded, no RNG state."""
    n = dim * n_bits
    seed = 0x9E3779B97F4A7C15 ^ (table * 0xBF58476D1CE4E5B9)
    vals = np.empty(n, dtype=np.float64)
    x = seed & 0xFFFFFFFFFFFFFFFF
    for i in range(n):
        x = (6364136223846793005 * x + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
        vals[i] = ((x >> 11) / float(1 << 53)) * 2.0 - 1.0
    return vals.reshape(n_bits, dim)


def _bucket_udf(dim: int, n_bits: int, table: int):
    planes = _hyperplanes(dim, n_bits, table)

    @F.pandas_udf(T.IntegerType())
    @worker_body
    def bucket(embs: pd.Series) -> pd.Series:
        mat = np.stack(embs.to_numpy())  # (batch, dim)
        bits = (mat @ planes.T) > 0  # (batch, n_bits)
        keys = np.zeros(len(embs), dtype=np.int64)
        for b in range(n_bits):
            keys |= bits[:, b].astype(np.int64) << b
        return pd.Series(keys.astype(np.int32))

    return bucket


def _bucket_all_udf(dim: int, n_bits: int, n_tables: int):
    """Every table's bucket id in one matrix product: one Arrow pass over
    the embeddings instead of one scan + UDF per table (the per-table
    union shape re-read the corpus n_tables times per join side).
    Identical keys to _bucket_udf(dim, n_bits, t) per table t."""
    flat = np.concatenate(
        [_hyperplanes(dim, n_bits, t) for t in range(n_tables)], axis=0
    )  # (n_tables * n_bits, dim)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    @worker_body
    def buckets(embs: pd.Series) -> pd.Series:
        mat = np.stack(embs.to_numpy())  # (batch, dim)
        bits = (mat @ flat.T) > 0  # (batch, n_tables * n_bits)
        weights = (1 << np.arange(n_bits, dtype=np.int64))
        keys = (
            bits.reshape(len(embs), n_tables, n_bits).astype(np.int64)
            * weights
        ).sum(axis=2).astype(np.int32)  # (batch, n_tables)
        return pd.Series(list(keys))

    return buckets


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    dim: int,
    n_bits: int = 8,
    n_tables: int = 4,
    raw: bool = False,
) -> DataFrame:
    """Approximate top-k: sign-random-projection buckets x n_tables, exact
    cosine re-rank within candidate union. The LCG hyperplanes are pure
    integer recurrences, so the whole path (bucketing included) replays in
    the DuckDB oracle; ``raw=True`` skips display rounding for floor-scaled
    cross-engine comparison."""
    bu = _bucket_all_udf(dim, n_bits, n_tables)
    c = embeddings.select(
        "vec_id", "embedding",
        F.posexplode(bu("embedding")).alias("tbl", "bkt"),
    )
    q = queries.select(
        "query_id", F.col("embedding").alias("q_emb"),
        F.posexplode(bu("embedding")).alias("tbl", "bkt"),
    )
    cand = c.join(F.broadcast(q), ["tbl", "bkt"]).select(
        "query_id", "vec_id", "q_emb", "embedding"
    ).dropDuplicates(["query_id", "vec_id"])
    return _rerank_topk(cand, k, raw)


def _assign_lists_udf(centroids: np.ndarray, n_probe: int):
    """Vectorized list assignment: top-``n_probe`` centroid ids by cosine.
    The centroid matrix is tiny (n_list x dim) and ships in the closure —
    the broadcast-dim-table pattern, no shuffle on the corpus side."""
    norms = np.linalg.norm(centroids, axis=1)
    norms[norms == 0] = 1.0
    unit = centroids / norms[:, None]

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    @worker_body
    def assign(embs: pd.Series) -> pd.Series:
        mat = np.stack(embs.to_numpy()).astype(np.float64)  # (batch, dim)
        mn = np.linalg.norm(mat, axis=1)
        mn[mn == 0] = 1.0
        sims = (mat / mn[:, None]) @ unit.T  # (batch, n_list)
        # stable top-n_probe: sort by (-sim, centroid id)
        order = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
        return pd.Series(list(order.astype(np.int32)))

    return assign


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    n_list: int = 16,
    n_probe: int = 4,
    raw: bool = False,
    centroids="kmeans",
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus into ``n_list``
    inverted lists, probe each query's ``n_probe`` nearest lists, exact
    cosine re-rank inside them.

    ``centroids``: "kmeans" (default) trains the deterministic sampled
    Lloyd quantizer (``kmeans_centroids`` — balanced lists on clustered
    data); "first" uses the first ``n_list`` corpus vectors
    (training-free); or pass a precomputed (n_list x dim) matrix.
    Collecting either centroid source to the driver is the standard
    tiny-dim-table pattern (n_list rows), not a data collect. Every step is
    deterministic (stable argmax ties on centroid id, rank ties on vec_id),
    so the whole ANN path replays exactly in the DuckDB oracle.
    ``raw=True`` returns the unrounded cosine for floor-scaled cross-engine
    comparison.
    """
    centroids = _resolve_centroids(embeddings, centroids, n_list)

    corpus_assign = _assign_lists_udf(centroids, 1)
    query_assign = _assign_lists_udf(centroids, n_probe)

    corpus = embeddings.select(
        "vec_id", "embedding", corpus_assign("embedding")[0].alias("list_id")
    )
    q = queries.select(
        "query_id",
        F.col("embedding").alias("q_emb"),
        F.explode(query_assign("embedding")).alias("list_id"),
    )
    return _rerank_topk(corpus.join(F.broadcast(q), "list_id"), k, raw)


def _resolve_centroids(embeddings: DataFrame, centroids, n_list: int) -> np.ndarray:
    """Centroid source dispatch: "kmeans" / "first" / explicit matrix."""
    if isinstance(centroids, str):
        if centroids == "kmeans":
            return kmeans_centroids(embeddings, n_list)
        if centroids == "first":
            cent_rows = (
                embeddings.orderBy("vec_id").limit(n_list).select("embedding").collect()
            )
            return np.array([r["embedding"] for r in cent_rows], dtype=np.float64)
        raise ValueError(f"unknown centroid source {centroids!r}")
    return np.asarray(centroids, dtype=np.float64)


def build_ivf_index(
    embeddings: DataFrame,
    path: str,
    *,
    n_list: int = 16,
    centroids="kmeans",
) -> np.ndarray:
    """Materialize the IVF layout: corpus written as parquet PARTITIONED BY
    list_id (the coarse-quantizer assignment). Returns the centroid matrix
    (persist it alongside the index in production; n_list x dim floats).

    This is the actual 100-TB ANN serving shape: assignment is one narrow
    pass at build time, and every probe afterwards reads only its n_probe
    partitions — partition pruning at the file-listing level, no Spark job
    touches the other (n_list - n_probe)/n_list of the data.
    """
    centroids = _resolve_centroids(embeddings, centroids, n_list)
    assign = _assign_lists_udf(centroids, 1)
    (
        embeddings.select(
            "vec_id", "embedding", assign("embedding")[0].alias("list_id")
        )
        .write.mode("overwrite")
        .partitionBy("list_id")
        .parquet(path)
    )
    return centroids


def ivf_topk_indexed(
    spark,
    index_path: str,
    centroids: np.ndarray,
    queries: DataFrame,
    k: int = 5,
    *,
    n_probe: int = 4,
    raw: bool = False,
) -> DataFrame:
    """Probe a materialized IVF index: queries pick their n_probe nearest
    lists, and the scan's ``list_id IN (...)`` predicate prunes to those
    partitions (PartitionFilters in the physical plan — asserted in tests).
    Exact cosine re-rank inside the probed lists; identical results to the
    in-memory ``ivf_topk``."""
    q_assign = _assign_lists_udf(centroids, n_probe)
    q = queries.select(
        "query_id",
        F.col("embedding").alias("q_emb"),
        F.explode(q_assign("embedding")).alias("list_id"),
    )
    corpus = spark.read.parquet(index_path)
    return _rerank_topk(corpus.join(F.broadcast(q), "list_id"), k, raw)


def embedding_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.99,
    *,
    method: str = "exact",
    dim: int = 64,
    n_bits: int = 8,
    n_tables: int = 4,
) -> DataFrame:
    """Near-duplicate (vec_a, vec_b, cosine) pairs with cosine >= threshold
    and vec_a < vec_b.

    ``exact``: self cross-join — the correctness baseline, quadratic, used
    for the oracle gate at test scale. ``lsh``: sign-random-projection
    blocking (same deterministic hyperplanes as ``lsh_topk``) — only pairs
    sharing a bucket in at least one table are scored; at web scale the
    bucket equi-join replaces the cross product and the shuffle key is the
    bucket id. Embeddings are cast to double so the aggregate() left-fold
    matches the DuckDB oracle bit-for-bit.
    """
    emb = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    a = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a")
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b")
    )
    if method == "exact":
        pairs = a.join(b, F.col("vec_a") < F.col("vec_b"))
    elif method == "lsh":
        bu = _bucket_all_udf(dim, n_bits, n_tables)
        keyed = emb.select(
            "vec_id", "embedding",
            F.posexplode(bu("embedding")).alias("tbl", "bkt"),
        )
        la = keyed.select(
            F.col("vec_id").alias("vec_a"),
            F.col("embedding").alias("emb_a"),
            "tbl", "bkt",
        )
        lb = keyed.select(
            F.col("vec_id").alias("vec_b"),
            F.col("embedding").alias("emb_b"),
            "tbl", "bkt",
        )
        hit = (
            la.join(lb, ["tbl", "bkt"])
            .where(F.col("vec_a") < F.col("vec_b"))
            .drop("tbl", "bkt")
        )
        pairs = hit.dropDuplicates(["vec_a", "vec_b"])
    else:
        raise ValueError(f"unknown method: {method!r}")
    return (
        pairs.select(
            "vec_a", "vec_b",
            cosine_col(F.col("emb_a"), F.col("emb_b")).alias("cosine"),
        )
        .where(F.col("cosine") >= F.lit(threshold))
    )


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label centroid statistics in exact integer arithmetic — the
    class-prototype aggregation (per-class mean embedding for nearest-
    centroid classification / dataset drift checks), made engine-exact:
    coordinates are quantized to floor(x * 1e6) BIGINT before summation,
    so the per-(label, dim) sums replay bit-equal regardless of summation
    order (float mean would not). Downstream divides sum_e6 by n for the
    float centroid when it wants one.

    Shape: posexplode -> one hash aggregate keyed on (label, dim) with
    map-side combine; output cardinality = n_labels * dim, constant in
    corpus size.

    Returns (label, dim, n, sum_e6).
    """
    exploded = embeddings.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "x"
        ),
    )
    return exploded.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("x") * 1e6)).cast("bigint").alias("sum_e6"),
    )


def quantize_embeddings(embeddings: DataFrame) -> DataFrame:
    """Symmetric int8 quantization of an embedding column — the vector-
    store compaction step for ANN at scale (4x memory vs float32; IVF /
    LSH shortlists scan int8, exact re-rank dequantizes the shortlist).

    Per vector: ``max_abs = max(|x_i|)``; component ``q_i = floor(x_i *
    127 / max_abs)`` in [-127, 127]; ``scale_e6 = floor(127e6 /
    max_abs)`` is the integer-quantized inverse scale a consumer uses to
    dequantize. floor (not banker's round) keeps every step a
    deterministic function of IEEE double arithmetic, so the DuckDB twin
    replays it bit-exactly — the quantization error bound is one step
    (max_abs / 127) instead of half a step, irrelevant at int8 ANN
    precision. All-zero vectors quantize to q = 0, scale_e6 = 0 — and so
    do vectors whose max_abs is below 1e-9: past that, ``127e6 /
    max_abs`` leaves int64 range and the engines diverge on the overflow
    (Spark non-ANSI clamps/nulls, DuckDB raises), breaking the bit-exact
    cross-engine replay; a sub-nano-magnitude embedding is numerically
    zero for ANN purposes anyway.

    Scale: a narrow map — per-vector fanout is the dimension, the
    explode fuses over the scan with zero shuffles (plan-asserted).

    Returns one row per component: (vec_id, i [1-based], q, scale_e6).
    """
    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    ).withColumn(
        "ma", F.array_max(F.transform("emb", lambda x: F.abs(x)))
    )
    x = e.select(
        "vec_id", "ma", F.posexplode("emb").alias("i0", "v")
    )
    safe = F.col("ma") > 1e-9
    return x.select(
        "vec_id",
        (F.col("i0") + 1).cast("int").alias("i"),
        F.when(safe, F.floor(F.col("v") * 127 / F.col("ma")))
        .otherwise(F.lit(0)).cast("int").alias("q"),
        F.when(safe, F.floor(F.lit(127000000.0) / F.col("ma")))
        .otherwise(F.lit(0)).cast("bigint").alias("scale_e6"),
    )
