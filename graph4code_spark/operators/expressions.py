"""semForms-analogue expression mining (adjacent reference subsystem).

The reference's semForms extracts data-wrangling expressions from data
science code (`/root/reference/semForms/README.md`), normalizes them,
counts identical expressions across a corpus, and keeps the top-10 as
named reusable transforms — ``mine_code_for_expressions``
(`/root/reference/semForms/automl_eval/semforms.py:54-78`) builds
``code2count``, sorts by count, truncates to 10 and labels the
survivors ``expr0..expr9``.

The deep *extraction* half (tracking reads/writes of DataFrame-like
containers through real dataflow) is the WALA analysis this repo
restates in ``operators/flows.py`` (def-use over receivers, containers,
read/write edges).  This module restates the *mining* half Spark-first:

- **normalize** — receiver-variable names are noise (`houses_df`,
  `h_df`, `df2` all mean "the frame"); one `regexp_replace` canonizes
  the receiver to ``df``, entirely JVM-side (no UDF).
- **count** — one hash aggregate keyed by normalized code.  At corpus
  scale this is the classic map-side-combinable word-count shape; no
  skew concern because the key space is the expression vocabulary.
- **rank** — global top-K by (count desc, code asc).  K is tiny (10),
  so the TakeOrdered path applies — no full sort of the aggregate.
- **label** — ``expr<idx>`` in rank order, exactly the reference's
  naming loop.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

#: reference keeps the 10 most frequent normalized expressions
#: (`semforms.py:72`)
TOP_EXPRESSIONS = 10

#: a Python identifier immediately followed by a subscript read/write —
#: the receiver position in `x['col']`
_RECEIVER_RE = r"[A-Za-z_][A-Za-z0-9_]*\["


def normalize_receivers(code: F.Column) -> F.Column:
    """Canonize every subscripted receiver variable to ``df`` — the
    reference's analysis likewise abstracts the concrete frame variable
    so `houses_df['a']/houses_df['b']` from one repo and
    `h['a']/h['b']` from another count as the same transform."""
    return F.regexp_replace(code, _RECEIVER_RE, "df[")


#: (url, code, bases) — one row per dataflow-mined expression occurrence
EXPRESSIONS_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("code", StringType()),
    StructField("bases", ArrayType(StringType())),
])


def extract_expressions(qa: DataFrame, catalog_records: list[dict]) -> DataFrame:
    """Dataflow-normalized expression extraction over (url, codes) pages
    — the reference mines expressions out of ANALYSIS output, not raw
    text (`semforms.py:54-78` consumes the index the analysis service
    builds), so this runs the flow extractor's def-use tracking
    (`operators/flows.py`) per page and emits one row per expression
    whose receivers are all tracked values, receivers canonized by
    producer identity (``df0``, ``df1``, …).  Aliased receivers unify;
    distinct frames stay distinct; untracked receivers mine nothing —
    the three behaviors the raw-text regex normalization cannot give.

    Same Arrow-batched one-pass shape as `extract_flow_nodes`: no
    shuffle, scales with page partitions."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog, extract_page_expressions,
    )

    flow_catalog = build_flow_catalog(catalog_records)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["url", "code", "bases"]
        for pdf in batches:
            rows: list[dict] = []
            for url, codes in zip(pdf["url"], pdf["codes"]):
                # per-page fault barrier (see flows._extract_page_safe):
                # one unparsable page skips, it must not fail the stage
                try:
                    exprs = extract_page_expressions(
                        url, list(codes) if codes is not None else [],
                        flow_catalog,
                    )
                except Exception:  # noqa: BLE001 — barrier by design
                    continue
                for e in exprs:
                    rows.append({"url": url, **e})
            yield pd.DataFrame(rows, columns=cols)

    return qa.select("url", "codes").mapInPandas(run, schema=EXPRESSIONS_SCHEMA)


def mine_expressions(code_df: DataFrame, pre_normalized: bool = False) -> DataFrame:
    """``code2count`` → top-`TOP_EXPRESSIONS` → ``expr<idx>`` labels.

    Input: one row per observed expression occurrence, in column
    ``code``.  Output columns:
    ``expr_name`` (rank label), ``code`` (normalized), ``cnt``.
    Deterministic: ties broken by code text ascending.
    ``pre_normalized=True`` skips the receiver regex — for input from
    `extract_expressions`, whose receivers are already canonical by
    producer identity (a strictly finer normalization)."""
    code = F.col("code") if pre_normalized else normalize_receivers(F.col("code"))
    counted = (
        code_df.select(code.alias("code"))
        .where(F.col("code").isNotNull())
        .groupBy("code")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # orderBy+limit = TakeOrdered: per-partition top-K then a K-row
    # merge on the driver — the aggregate is never globally sorted.
    # The labeling window then runs over only K rows.
    top = counted.orderBy(F.desc("cnt"), F.asc("code")).limit(TOP_EXPRESSIONS)
    # unpartitioned window is intentional and safe: its input is ≤ k
    # rows by construction (WindowExec's warning refers to the general
    # case; a constant partition key would just be constant-folded away)
    w = Window.orderBy(F.desc("cnt"), F.asc("code"))
    return (
        top.withColumn("rk", F.row_number().over(w))
        .select(
            F.concat(F.lit("expr"), (F.col("rk") - 1).cast("string")).alias("expr_name"),
            "code",
            "cnt",
        )
    )
