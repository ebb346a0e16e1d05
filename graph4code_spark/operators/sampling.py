"""Deterministic corpus sampling for training-data pipelines.

Two shapes a 100 TB curation pipeline needs constantly:

- `stratified_hash_sample`: keep a per-stratum fraction of documents,
  decided purely by a hash of the stable key — no RNG state, identical
  output at any partitioning/parallelism/retry, join-free (the decision
  is a map-side column expression; the plan is Scan → Filter, so at
  10^12 rows it costs one pass and prunes immediately).  The fraction is
  expressed as a 2-hex-digit md5-prefix threshold (rate = thr/256),
  which keeps the predicate portable across engines (the DuckDB oracle
  evaluates the same md5 string comparison).
- `deterministic_topk_sample`: exactly-k-per-stratum without
  replacement, ordered by the key hash — "uniform without replacement"
  with a reproducible witness set.  One shuffle on the stratum key;
  Catalyst pushes the rank filter into WindowGroupLimit, so each
  partition keeps only k rows before the final sort (hub strata do not
  materialize).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _h2(key: Column) -> Column:
    """First two hex digits of md5(key-as-string): a uniform value in
    ['00','ff'] that lexicographically orders like the integer it
    encodes — portable to any engine with md5()."""
    return F.substring(F.md5(key.cast("string")), 1, 2)


def stratified_hash_sample(df: DataFrame, key: str, threshold: Column) -> DataFrame:
    """Rows whose md5-prefix falls below the per-row ``threshold``
    (a Column of 2-hex-digit strings, usually a CASE over the stratum).
    Keep-rate per stratum = int(threshold, 16) / 256."""
    h2 = _h2(F.col(key))
    return df.where(h2 < threshold).withColumn("h2", h2)


def deterministic_topk_sample(
    df: DataFrame, key: str, stratum: str, k: int
) -> DataFrame:
    """Exactly min(k, |stratum|) rows per stratum: the k smallest key
    hashes (ties broken by the key itself, so the witness set is unique
    and stable)."""
    h = F.md5(F.col(key).cast("string"))
    w = Window.partitionBy(stratum).orderBy(h, F.col(key))
    return (
        df.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
    )
