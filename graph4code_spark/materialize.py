"""Graph materialize: dedup + partitioned write + lineage metrics.

Replaces the reference's file-per-entity `.nq` writes + concat merge
(`/root/reference/src/utils.py:465-470,602-625`) with a single table
write partitioned by **(predicate short-name, subject-hash bucket)** per
the north rule.  Predicate cardinality is the fixed edge vocabulary
(~40), so `pred_name` is a safe partition column; `subj_bucket` spreads
within a predicate so hub subjects don't produce giant files and
SPARQL-style per-predicate scans prune to one directory.  The bucket
count follows the data size: ``run_pipeline`` passes
``plans.pipeline.subject_buckets`` of its triple-stage row total, one
bucket per ``ROWS_PER_BUCKET`` quads rounded up to a power of two, so a
small build writes one file per predicate.

Set semantics (SO1): rdflib collapses duplicate quads per graph — here a
`dropDuplicates` over the full quad key before the write.

Lineage (north rule): `observe()` counters for totals and distinct
graphs/subjects, taken on the write itself, plus a per-partition
row-count table written next to the data in one pass over the written
table, so a resumed job can verify partition completeness without
rescanning.  The sink always overwrites: the write-time counters
describe exactly the rows that the lineage table counts.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from graph4code_spark.schemas import TRIPLE_COLS

#: subject-hash buckets for direct callers; ``run_pipeline`` derives its
#: count from the data size instead (``plans.pipeline.subject_buckets``).
DEFAULT_BUCKETS = 8


def pred_short_name(col):
    """Last segment of the predicate URI (after '#' or final '/')."""
    return F.element_at(F.split(col, "[#/]"), -1)


def dedup_quads(triples: DataFrame) -> DataFrame:
    return triples.dropDuplicates(TRIPLE_COLS)


def _sink_frame(triples: DataFrame, buckets: int) -> DataFrame:
    """The deduplicated quads plus the sink's two partition columns,
    ``pred_name`` and ``subj_bucket``."""
    return (
        dedup_quads(triples)
        .withColumn("pred_name", pred_short_name(F.col("pred")))
        .withColumn("subj_bucket", F.pmod(F.xxhash64("subj"), F.lit(buckets)).cast("int"))
    )


def materialize_triples(
    triples: DataFrame,
    out_path: str,
    buckets: int = DEFAULT_BUCKETS,
) -> dict:
    """Dedup + write + metrics. Returns the metrics dict (also persisted
    as `_metrics.json` beside the table)."""
    t0 = time.time()
    obs = Observation()
    df = (
        _sink_frame(triples, buckets)
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_triples"),
            # distinct stats: approx at scale
            F.approx_count_distinct("graph").alias("n_graphs"),
            F.approx_count_distinct("subj").alias("n_subjects"),
        )
    )
    (
        df.write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("pred_name", "subj_bucket")
        .parquet(out_path)
    )
    metrics = {k: int(v) for k, v in obs.get.items()}
    metrics["wall_sec"] = round(time.time() - t0, 3)
    metrics["buckets"] = buckets

    # per-partition lineage counters
    spark = triples.sparkSession
    lineage_obs = Observation()
    lineage = (
        spark.read.schema(df.schema).parquet(out_path)
        .groupBy("pred_name", "subj_bucket")
        .agg(F.count(F.lit(1)).alias("rows"))
        .observe(lineage_obs, F.count(F.lit(1)).alias("n_partitions"))
    )
    lineage.coalesce(1).write.mode("overwrite").parquet(out_path + "_lineage")
    metrics["n_partitions"] = int(lineage_obs.get["n_partitions"])

    with open(os.path.join(out_path, "_metrics.json"), "w") as f:
        json.dump(metrics, f, indent=2, sort_keys=True)
    return metrics


def read_triples(spark, path: str) -> DataFrame:
    """Read a materialized quad table back in canonical column order."""
    return spark.read.parquet(path).select(*TRIPLE_COLS)


def materialize_triples_iceberg(
    triples: DataFrame, table: str, buckets: int = DEFAULT_BUCKETS
) -> None:
    """Iceberg flavor of the sink (north rule names Iceberg as the store).

    Same layout — partitioned by (pred_name, subj_bucket) — expressed as
    an Iceberg partitioned `writeTo`.  Requires the Spark session to be
    configured with an Iceberg catalog (`spark.sql.catalog.<name>` +
    iceberg-spark-runtime on the classpath); this sandbox ships neither,
    so the parquet path above is the tested default and this function is
    exercised only for its plan construction (raises a clear error when
    the catalog is absent).  On a real cluster the two are drop-in
    equivalents: Iceberg adds snapshot isolation + hidden partitioning on
    top of the identical physical layout.
    """
    df = _sink_frame(triples, buckets)
    try:
        (
            df.writeTo(table)
            .partitionedBy("pred_name", "subj_bucket")
            .using("iceberg")
            .createOrReplace()
        )
    except Exception as e:
        # Only translate catalog-resolution failures into the setup hint;
        # schema/IO/permission errors re-raise untouched so the real
        # diagnosis isn't masked.
        msg = str(e)
        # only catalog-RESOLUTION error classes/codes — deliberately no
        # bare "iceberg" substring, which would also match schema/missing-
        # table/permission errors that merely name the catalog or format
        catalog_markers = (
            "CATALOG_NOT_FOUND", "Catalog not found", "is not a valid Spark catalog",
            "Cannot find catalog plugin", "NoSuchCatalogException",
            "Multi-catalog support",
            # an unregistered catalog name falls through to spark_catalog,
            # which then rejects the multi-part identifier
            "REQUIRES_SINGLE_PART_NAMESPACE",
        )
        from pyspark.errors import AnalysisException

        if isinstance(e, AnalysisException) and any(m in msg for m in catalog_markers):
            raise RuntimeError(
                f"Iceberg write to '{table}' failed — this Spark session has no "
                "Iceberg catalog. Configure spark.sql.catalog.<name>=org.apache."
                "iceberg.spark.SparkCatalog with iceberg-spark-runtime on the "
                "classpath, or use materialize_triples() (identical parquet "
                "layout) instead."
            ) from e
        raise
