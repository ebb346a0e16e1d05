"""Training-batch sequence packing: deterministic corpus shuffle + greedy
contiguous packing of documents into fixed-length token sequences.

The last step of a training-data pipeline concatenates documents (in a
shuffled but reproducible order) into ``seq_len``-token rows.  The core
primitive is an EXCLUSIVE PREFIX SUM of per-doc token counts in the
shuffled order — which a naive Spark window (`ORDER BY key` with no
partition) computes on a single partition, the classic 100 TB
bottleneck.  This implementation is the standard two-level scan:

1. key-space is bucketed by RANGE of the shuffle key (monotonic, so
   bucket order == global order) — a map-side projection, no sampling,
   no skew (the multiplicative hash spreads ids uniformly);
2. per-bucket token totals: one hash-aggregate over ``n_buckets`` rows;
3. the tiny bucket-totals table is prefix-summed on the driver and
   broadcast-joined back;
4. the global offset is a per-bucket window (bounded partitions) plus
   the bucket's broadcast base.

Every step is deterministic (no RNG: the shuffle key is a Knuth
multiplicative hash of the id), so the same corpus always packs into
the same sequences — resumable and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graph4code_spark.functions.hashing import KNUTH, M32, mulmod32
from graph4code_spark.session import local_df

#: Knuth's multiplicative hash constant (2^32 / phi); applied mod 2^32
#: it is a bijection on [0, 2^32), i.e. a deterministic permutation.
#: (shared overflow-safe implementation: functions/hashing.py)
HASH_MULT = KNUTH
_KEYSPACE = M32


def shuffle_key(id_col: F.Column) -> F.Column:
    """Deterministic pseudo-random permutation key for an integer id —
    overflow-safe over the whole non-negative int64 id domain (the
    oracle computes the same value exactly via HUGEINT)."""
    return mulmod32(id_col, HASH_MULT)


def pack_sequences(
    df: DataFrame,
    id_col: str,
    count_col: str,
    seq_len: int,
    n_buckets: int = 64,
    shuffle: bool = True,
) -> DataFrame:
    """Assign every doc its global token offset in (shuffled) corpus
    order, the id of the fixed-length sequence its first token lands in,
    and whether it straddles a sequence boundary.

    Output: (id, count, sort_key, global_offset, seq_id, straddles).
    Ties on the shuffle key break by id, so the order is total.
    """
    key = shuffle_key(F.col(id_col)) if shuffle else F.col(id_col).cast("long")
    keyed = df.select(
        F.col(id_col),
        F.col(count_col).cast("long").alias("n_tokens"),
        key.alias("sort_key"),
    )
    if shuffle:
        bucket = F.floor(F.col("sort_key") * n_buckets / F.lit(_KEYSPACE))
    else:
        # unshuffled ids have no fixed keyspace: bucket on the id range
        hi = keyed.agg(F.max("sort_key")).first()[0] or 0
        width = max(1, (hi + n_buckets) // n_buckets)
        bucket = F.floor(F.col("sort_key") / F.lit(width))
    keyed = keyed.withColumn("_bucket", bucket.cast("long"))

    totals = (
        keyed.groupBy("_bucket")
        .agg(F.sum("n_tokens").alias("_total"))
        .orderBy("_bucket")
        .collect()
    )
    base, offsets = 0, []
    for r in totals:
        offsets.append((r["_bucket"], base))
        base += r["_total"]
    bases = local_df(
        df.sparkSession, offsets or [(0, 0)], "_bucket long, _base long"
    )

    w = (
        Window.partitionBy("_bucket")
        .orderBy("sort_key", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w) - F.col("n_tokens") + F.col("_base")
    first_seq = F.floor(F.col("global_offset") / seq_len)
    last_seq = F.floor(
        (F.col("global_offset") + F.greatest(F.col("n_tokens"), F.lit(1)) - 1)
        / seq_len
    )
    return (
        keyed.join(F.broadcast(bases), "_bucket")
        .withColumn("global_offset", cum)
        .select(
            id_col,
            "n_tokens",
            "sort_key",
            "global_offset",
            first_seq.cast("long").alias("seq_id"),
            (last_seq > first_seq).alias("straddles"),
        )
    )
