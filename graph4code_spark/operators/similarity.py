"""Similarity search over embedding columns (array<float>).

Every path is filter-then-verify over the same primitives, stated once
here: `dot`/`norm`/`cosine_expr` (JVM-side `F.zip_with` + `F.aggregate`
folds, no Python), `as_double`, and the per-query top-k window
(`_top_k`).  Vectors arrive as ``(vec_id, embedding)`` and queries as
``(query_id, query_vec)``.

- **brute-force cosine top-k**: the correctness baseline.  Queries are
  broadcast; every vector is scored against every query.
- **LSH-bucketed (random hyperplanes)**: the scale path.  B seeded
  hyperplanes → sign-bit bucket per vector (Arrow-batched numpy matmul),
  candidates = bucket equality, exact cosine re-rank within candidates.
  At 10^12 rows the bucket join replaces the full cross product; plane
  seeds are deterministic.
- **IVF (inverted lists)**: each vector lives in its nearest list, each
  query probes its ``nprobe`` nearest, exact cosine re-rank within the
  probed lists.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: seed of the LSH planes and the IVF centroids of the top-k paths
SEED = 42


def dot(a: Column, b: Column) -> Column:
    """Dot product as a sequential left fold from 0.0: the evaluation
    order of DuckDB's list_dot_product, so the oracles agree bit for bit."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def as_double(vec: Column) -> Column:
    """The vector with every element cast to double."""
    return F.transform(vec, lambda x: x.cast("double"))


def lit_vector(v) -> Column:
    """A literal array<double> of the numbers ``v`` (a centroid)."""
    return F.array(*[F.lit(float(x)) for x in v])


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, vec_id, cosine, rank ≤ k): the per-query rank window,
    cosine descending, vec_id ascending on ties."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _candidates(vk: DataFrame, qk: DataFrame, key: str) -> DataFrame:
    """(query_id, vec_id) pairs whose (id, ``key``) rows share ``key``."""
    return vk.join(qk.withColumnRenamed("id", "qid"), key).select(
        F.col("qid").alias("query_id"), F.col("id").alias("vec_id")
    )


def _rerank(cand: DataFrame, vectors: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """Exact cosine over the candidate pairs (queries broadcast), then
    the per-query top ``k``."""
    scored = (
        cand.join(vectors, "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select("query_id", "vec_id",
                cosine_expr(F.col("embedding"), F.col("query_vec")).alias("cosine"))
    )
    return _top_k(scored, k)


def brute_force_topk(vectors: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """(query_id, vec_id, cosine, rank ≤ k). Queries side is broadcast —
    the scan of `vectors` stays partition-local; one shuffle for the
    per-query top-k window."""
    scored = vectors.crossJoin(F.broadcast(queries)).select(
        "query_id", "vec_id",
        cosine_expr(F.col("embedding"), F.col("query_vec")).alias("cosine"),
    )
    return _top_k(scored, k)


def _planes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rs = np.random.RandomState(seed)
    return rs.normal(size=(n_planes, dim)).astype(np.float64)


def hyperplane_buckets(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    n_planes: int = 12,
    seed: int = SEED,
) -> DataFrame:
    """(id, bucket) — sign-bit signature under seeded random hyperplanes.

    Arrow-batched numpy matmul: one pass, no shuffle."""
    planes = _planes(dim, n_planes, seed)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"id": [], "bucket": []})
                continue
            mat = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["vec"]])
            bits = (mat @ planes.T) > 0
            buckets = (bits * (1 << np.arange(n_planes))).sum(axis=1)
            yield pd.DataFrame({"id": pdf["id"], "bucket": buckets.astype("int64")})

    return df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    ).mapInPandas(run, schema="id long, bucket long")


def ivf_centroids(dim: int, n_lists: int, seed: int) -> np.ndarray:
    """Deterministic L2-normalized coarse-quantizer centroids.  A seeded
    random quantizer (random directions, like a one-shot k-means init)
    keeps the whole IVF path reproducible with no training pass — the
    assignment/probe/re-rank machinery is identical to a trained
    quantizer's, and the DuckDB oracle can embed the centroids as
    literals."""
    rs = np.random.RandomState(seed)
    c = rs.normal(size=(n_lists, dim)).astype(np.float64)
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def ivf_assign(
    df: DataFrame, vec_col: str, id_col: str,
    dim: int, n_lists: int, seed: int, nprobe: int = 1,
) -> DataFrame:
    """(id, list_id) — each vector's ``nprobe`` nearest inverted lists.

    **Zero-shuffle by construction**: the centroids are literals, so each
    row scores all ``n_lists`` of them in one projection and picks its
    top-``nprobe`` with `sort_array` + `slice` — no crossJoin, no
    per-id window (the first cut shuffled the full vector table just to
    rank 8 rows per id; `.explain` showed the Exchange).  JVM-side on
    purpose: the score is `dot` and the ranking key rounds to 6 decimals
    with a list_id tie-break, so the assignment is bit-stable across
    engines."""
    cents = ivf_centroids(dim, n_lists, seed)
    # sort_array asc on struct(-round(d,6), list_id) == (d desc, list_id asc)
    scored = F.array(
        *[
            F.struct(
                (-F.round(dot(F.col("vec"), lit_vector(c)), 6)).alias("nd"),
                F.lit(i).alias("list_id"),
            )
            for i, c in enumerate(cents)
        ]
    )
    return (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        .select(
            "id",
            F.explode(
                F.slice(F.sort_array(scored), 1, nprobe)
            ).alias("s"),
        )
        .select("id", F.col("s.list_id").alias("list_id"))
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_lists: int = 8,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-flavored ANN: vectors live in their nearest inverted list,
    queries probe the ``nprobe`` nearest lists, exact cosine re-rank
    within the probed lists.  Same scale shape as a trained IVF index:
    the candidate join is list-equality (shuffle on list_id, |lists|
    bounded), never a cross product.  A vector reached through two
    probed lists is one candidate."""
    vl = ivf_assign(vectors, "embedding", "vec_id", dim, n_lists, SEED, nprobe=1)
    ql = ivf_assign(queries, "query_vec", "query_id", dim, n_lists, SEED, nprobe=nprobe)
    return _rerank(_candidates(vl, ql, "list_id").distinct(), vectors, queries, k)


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 12,
) -> DataFrame:
    """Bucketed ANN: candidates share the hyperplane bucket, exact cosine
    re-rank within. Recall < 1 by construction; n_planes trades recall
    for candidate-set size."""
    vb = hyperplane_buckets(vectors, "embedding", "vec_id", dim, n_planes)
    qb = hyperplane_buckets(queries, "query_vec", "query_id", dim, n_planes)
    return _rerank(_candidates(vb, qb, "bucket"), vectors, queries, k)
