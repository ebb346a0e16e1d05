"""SparkSession factory tuned for the KG-construction workload, and
``local_df``, the one constructor for driver-side tables.

Local testing runs on ``local[N]``; the same config block is what we would
ship to a 1000-executor cluster via ``spark-submit --py-files`` — nothing
here is local-mode specific except the master URL.

``local_df`` exists because ``spark.createDataFrame`` over a list is a Python
RDD: every scan of the API catalog, the class map, the anchor labels or a
union-find result started Python worker tasks, seconds of executor time
for a few dozen rows.  ``local_df`` ships the rows to the JVM as one Arrow
table instead, so scans of the result run in the JVM alone.

The Python workers carry one more fixed cost per task, which the package
removes on import (``graph4code_spark._zipcache``).  Every task's set-up
calls ``importlib.invalidate_caches()``, and before CPython 3.13 that
re-reads the central directory of ``pyspark.zip`` once per importer the
worker holds on it: 0.13–0.19 CPU s a task, so it grows with the task
count, not the data.  On Python < 3.13 the package backports 3.13's cheap
invalidation: an archive whose ``(st_mtime_ns, st_size)`` is unchanged is
not re-read, a changed one is, and what is left per task is one ``stat``
per importer.  Python ≥ 3.13 is left as it is.

The driver JVM carries a fixed cost of its own: its C2 JIT compiler.  A
batch build runs in a cold JVM, and with HotSpot's default tier-4
thresholds C2 compiles every method that turns lukewarm, which in a build
is mostly one-off planning, Janino, serialization and JDK code.
``_BASE_CONF`` therefore launches the driver JVM with the four tier-4
thresholds at ×10 their JDK 17 defaults: C2 still compiles the code that is
really hot, and C1 compiles the rest.  The price is executor CPU, since hot
code stays longer in C1's profiled tier, and the gain shrinks as the build
grows: the ×10 thresholds are justified for ``kg_full`` builds of up to
8,000 pages and are about neutral at 32,000 (``local[4]``); larger builds
are unmeasured.  The numbers, and why C1-only and ×20 thresholds were
rejected, are in README "Scale design".

The flags reach the JVM only when it is launched, so they are set as
``spark.driver.extraJavaOptions`` before the first session of a process;
``spark.conf.set`` after launch, or ``spark.executor.*``, would not reach
the driver.  Under ``spark-submit`` the JVM starts before any Python runs:
pass them with ``--driver-java-options`` (see ``jobs/run_pipeline.py``).
A caller's own ``spark.driver.extraJavaOptions`` in ``extra_conf``
replaces the entry, as any key there does.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import ArrayType, MapType, StructField, StructType

# Defaults chosen for the 100 TB design point, not the sandbox:
# - AQE on: runtime coalescing + skew-join splitting (hub entities like
#   ``fit`` produce heavy linking keys; the reference simply capped them at
#   5000 hits per entity — we cap too, but AQE also splits skewed shuffle
#   partitions).
# - Arrow on: every Python-side stage is a vectorized pandas UDF.
# - shuffle.partitions is a starting point; AQE coalesces down.
# - Driver JVM tier-4 JIT thresholds at ×10 the JDK 17 defaults (5000, 600,
#   15000, 40000); see the module docstring.
_BASE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.driver.extraJavaOptions": (
        "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
        "-XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
    ),
}


def get_spark(
    app_name: str = "graph4code-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_BASE_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_all() -> None:
    """Stop the active session, if any."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def local_df(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """DataFrame over driver-side ``rows`` (tuples in ``schema`` order),
    built from an Arrow table: its scans start no Python worker.

    Top-level map columns travel as key/value entry lists and are rebuilt in the
    JVM by ``map_from_entries``: with pyarrow < 17, PySpark's Arrow path
    drops the null mask of a map with nested values (SPARK-48302), which
    would turn a null map into ``{}``.
    """
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    maps = {f.name for f in schema.fields if isinstance(f.dataType, MapType)}
    wire = StructType([
        StructField(f.name, ArrayType(StructType([
            StructField("key", f.dataType.keyType),
            StructField("value", f.dataType.valueType, f.dataType.valueContainsNull),
        ])), f.nullable) if f.name in maps else f
        for f in schema.fields
    ])
    arrow = to_arrow_schema(wire)
    cols = list(zip(*rows)) or [()] * len(wire.fields)
    table = pa.Table.from_arrays(
        [
            pa.array(
                [None if v is None else list(v.items()) for v in col]
                if name in maps else col,
                type=arrow.field(name).type,
            )
            for name, col in zip(wire.names, cols)
        ],
        schema=arrow,
    )
    df = spark.createDataFrame(table, wire)
    if maps:
        df = df.select(*[
            F.map_from_entries(n).alias(n) if n in maps else F.col(n)
            for n in schema.names
        ])
    return df
