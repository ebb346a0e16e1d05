"""Embedding quantization: per-vector symmetric int8.

At 10^12-document scale the embedding column IS the storage bill — a
64-dim float32 vector is 256 bytes/doc; int8 + one float scale is 68.
Quantization is a stateless map (zero shuffle), and the quality loss is
measurable corpus-wide with one pass (max reconstruction error, cosine
drift), so the decision "can ANN run on int8?" is a query, not a guess.

Rounding is floor(x + 0.5) — NOT the engine's `round` builtin — because
Java (HALF_UP on the scaled value) and C++ engines disagree on ties and
on negative halves; the explicit floor form is bit-identical everywhere
doubles are IEEE.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graph4code_spark.operators.similarity import as_double, dot, norm


def _round_half_up(x: Column) -> Column:
    return F.floor(x + F.lit(0.5))


def quantize_int8(df: DataFrame, vec_col: str) -> DataFrame:
    """Append ``q_scale`` (float per vector), ``q_vec`` (array<int> in
    [-127, 127]) and reconstruction diagnostics ``q_max_abs_err`` /
    ``q_cosine`` (cosine between the original and dequantized vector).

    All pure column expressions over the array — one codegen stage, no
    shuffle, no Python."""
    v = as_double(F.col(vec_col))
    scale = F.array_max(F.transform(v, F.abs)) / F.lit(127.0)
    q = F.when(
        scale > 0,
        F.transform(v, lambda x: _round_half_up(x / scale).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    deq = F.transform(q, lambda e: e.cast("double") * scale)
    err = F.array_max(
        F.zip_with(v, deq, lambda a, b: F.abs(a - b))
    )
    nv, nd = norm(v), norm(deq)
    cos = F.when((nv > 0) & (nd > 0), dot(v, deq) / (nv * nd)).otherwise(F.lit(1.0))
    return df.select(
        "*",
        scale.alias("q_scale"),
        q.alias("q_vec"),
        err.alias("q_max_abs_err"),
        cos.alias("q_cosine"),
    )
