"""K-means document clustering over the embedding column — the
cluster-based curation step (domain balancing, cluster-level sampling)
of a training-data pipeline, and the repo's iterative-algorithm shape:
a driver-side loop of two cheap distributed steps per round.

Scale shape per iteration:
- ASSIGNMENT is the IVF trick (`similarity.ivf_assign`): centroids are
  LITERALS, so every row scores k of them in one map-side projection —
  zero shuffle, no crossJoin.
- UPDATE is one k-row aggregate (`groupBy(cluster).avg(dim_0..dim_n)`),
  collected to the driver (k × dim doubles) and fed back as next
  round's literals.  The driver never holds more than the centroids.

Cross-engine determinism (the oracle unrolls the same iterations in
SQL): the assignment key ``||c||² − 2·x·c`` is computed from the SAME
literal values by the SAME sequential fold on both engines, rounded to
6 dp with a cluster-id tie-break.  The centroid UPDATE is exact
fixed-point arithmetic — components are quantized to 1e-6 micro-units
(``floor(x·1e6 + 0.5)``, one deterministic double op per element),
summed as bigints (order-independent), and divided with explicit
``floor(s/n + 0.5)`` half-up rounding — because ``round(avg(x), 6)`` is
summation-order dependent: two engines (or two partitionings) can land
1 ulp apart at a 5e-7 boundary and round to DIFFERENT centroids, which
cascades into divergent round-2 assignments (ADVICE r3; the same
failure mode _cents documents for events_hourly).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph4code_spark.operators.similarity import as_double, dot, ivf_centroids, lit_vector


def _assign(df: DataFrame, id_col: str, cents: list[list[float]]) -> DataFrame:
    """(id, vec, cluster, dist) — nearest centroid by squared L2 via the
    literal-projection trick; key rounded to 6 dp, cluster tie-break."""
    scored = []
    for ci, c in enumerate(cents):
        lit = lit_vector(c)
        key = F.round(dot(lit, lit) - 2 * dot(F.col("vec"), lit), 6)
        scored.append(F.struct(key.alias("d"), F.lit(ci).alias("cluster")))
    best = F.sort_array(F.array(*scored))[0]
    return df.select(
        F.col(id_col).alias("id"), F.col("vec"),
        best["cluster"].alias("cluster"), best["d"].alias("dist"),
    )


def kmeans_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iters: int,
    seed: int,
    dim: int,
) -> tuple[DataFrame, list[list[float]]]:
    """Lloyd's iterations with deterministic seeded init (the IVF
    quantizer's random directions).  Returns (assignment, centroids):
    assignment = (id, cluster, dist) after the LAST assignment pass
    against the final centroids; empty clusters keep their previous
    centroid."""
    base = df.select(
        F.col(id_col).alias("_kid"),
        as_double(F.col(vec_col)).alias("vec"),
    )
    cents = [[round(float(x), 6) for x in row] for row in ivf_centroids(dim, k, seed)]
    assigned = _assign(base, "_kid", cents)

    def micro(i: int):
        # exact micro-unit quantization: ONE double op per element, so
        # the bigint sum below is engine- and order-independent
        return F.floor(F.col("vec")[i] * 1000000 + F.lit(0.5)).cast("long")

    for _ in range(iters - 1):
        sums = (
            assigned.groupBy("cluster")
            .agg(
                F.count(F.lit(1)).alias("_n"),
                *[F.sum(micro(i)).alias(f"s{i}") for i in range(dim)],
            )
            .collect()
        )
        new_cents = list(cents)
        for r in sums:
            n = r["_n"]
            new_cents[r["cluster"]] = [
                math.floor(r[f"s{i}"] / n + 0.5) / 1e6 for i in range(dim)
            ]
        cents = new_cents
        assigned = _assign(base, "_kid", cents)
    out = assigned.select(F.col("id").alias(id_col), "cluster", "dist")
    return out, cents
