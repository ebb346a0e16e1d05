"""Similarity search over embedding columns (array<float>).

- **brute-force cosine top-k**: the correctness baseline.  Queries are
  broadcast; dot products run JVM-side via `F.zip_with` + `F.aggregate`
  (no Python), per-query top-k via rank window.
- **LSH-bucketed (random hyperplanes)**: the scale path.  B seeded
  hyperplanes → sign-bit bucket per vector (Arrow-batched numpy matmul),
  candidates = bucket equality (optionally multi-probe), exact cosine
  re-rank within candidates.  At 10^12 rows the bucket join replaces the
  full cross product; plane seeds are deterministic.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F



def _norm(col):
    return F.sqrt(F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_expr(a, b):
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    return dot / (_norm(a) * _norm(b))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """(query_id, vec_id, cosine, rank ≤ k). Queries side is broadcast —
    the scan of `vectors` stays partition-local; one shuffle for the
    per-query top-k window."""
    j = vectors.crossJoin(F.broadcast(queries))
    scored = j.select(
        F.col(query_id_col),
        F.col(id_col),
        cosine_expr(F.col(vec_col), F.col(query_vec_col)).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _planes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rs = np.random.RandomState(seed)
    return rs.normal(size=(n_planes, dim)).astype(np.float64)


def hyperplane_buckets(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    n_planes: int = 12,
    seed: int = 42,
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
    purpose: the dot product is a sequential `F.aggregate` fold (same
    evaluation order as DuckDB's list_dot_product) and the ranking key
    rounds to 6 decimals with a list_id tie-break, so the assignment is
    bit-stable across engines."""
    cents = ivf_centroids(dim, n_lists, seed)

    def dot_with(c: "np.ndarray"):
        lit = F.array(*[F.lit(float(x)) for x in c])
        return F.aggregate(
            F.zip_with(F.col("vec"), lit, lambda x, y: x * y),
            F.lit(0.0), lambda acc, x: acc + x,
        )

    # sort_array asc on struct(-round(d,6), list_id) == (d desc, list_id asc)
    scored = F.array(
        *[
            F.struct(
                (-F.round(dot_with(cents[i]), 6)).alias("nd"),
                F.lit(i).alias("list_id"),
            )
            for i in range(n_lists)
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
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF-flavored ANN: vectors live in their nearest inverted list,
    queries probe the ``nprobe`` nearest lists, exact cosine re-rank
    within the probed lists.  Same scale shape as a trained IVF index:
    the candidate join is list-equality (shuffle on list_id, |lists|
    bounded), never a cross product."""
    vl = ivf_assign(vectors, vec_col, id_col, dim, n_lists, seed, nprobe=1)
    ql = ivf_assign(queries, query_vec_col, query_id_col, dim, n_lists, seed, nprobe=nprobe)
    cand = (
        vl.join(ql.withColumnRenamed("id", "qid"), "list_id")
        .select(F.col("qid").alias(query_id_col), F.col("id").alias(id_col))
        .distinct()
    )
    j = (
        cand.join(vectors, id_col)
        .join(F.broadcast(queries), query_id_col)
        .select(
            query_id_col,
            id_col,
            cosine_expr(F.col(vec_col), F.col(query_vec_col)).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return j.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 12,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Bucketed ANN: candidates share the hyperplane bucket, exact cosine
    re-rank within. Recall < 1 by construction; n_planes trades recall
    for candidate-set size."""
    vb = hyperplane_buckets(vectors, vec_col, id_col, dim, n_planes, seed)
    qb = hyperplane_buckets(queries, query_vec_col, query_id_col, dim, n_planes, seed)
    cand = (
        vb.join(qb.withColumnRenamed("id", "qid"), "bucket")
        .select(F.col("qid").alias(query_id_col), F.col("id").alias(id_col))
    )
    j = (
        cand.join(vectors, id_col)
        .join(F.broadcast(queries), query_id_col)
        .select(
            query_id_col,
            id_col,
            cosine_expr(F.col(vec_col), F.col(query_vec_col)).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return j.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
