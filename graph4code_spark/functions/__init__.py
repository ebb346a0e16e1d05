"""Column-expression helpers shared by the emitters and operators.

Everything here is built-in `pyspark.sql.functions`: no Python UDF runs
on the hot path.  The higher-order functions the emitters use
(`transform`, `exists`, the `sequence` lambdas) evaluate interpreted,
outside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType

from graph4code_spark.uris import URI_RLIKE


#: salt buckets of `salted_top_k`'s first phase
SALT_BUCKETS = 16

#: Spark type of an array of `quad` structs
QUAD_ARRAY = (
    "array<struct<subj:string,pred:string,obj:string,is_literal:boolean,"
    "arg_pos:int,arg_name:string,graph:string>>"
)


def salted_top_k(
    df: DataFrame, key: str, salt_of: str, order: list[Column], k: int,
    rank_col: str,
) -> DataFrame:
    """The first ``k`` rows per ``key`` by ``order``, ranked 1.. in
    ``rank_col``, as a two-phase cap over a salted key.

    A hub key (the ``fit`` entity, a popular ``train.csv``) is a skewed
    window partition at corpus scale.  Phase 1 ranks within
    (key, xxhash64(salt_of) mod SALT_BUCKETS), so no task sees a hub's
    full row set and each bucket keeps at most ``k`` rows; phase 2 ranks
    the survivors per key.  A row in a key's top ``k`` is in its
    bucket's top ``k``, so the result equals the plain per-key window
    whenever ``order`` is total."""
    salt = F.pmod(F.xxhash64(salt_of), F.lit(SALT_BUCKETS))
    pre = (
        df.withColumn(rank_col, F.row_number().over(
            Window.partitionBy(key, salt).orderBy(*order)))
        .where(F.col(rank_col) <= k)
        .drop(rank_col)
    )
    return (
        pre.withColumn(rank_col, F.row_number().over(
            Window.partitionBy(key).orderBy(*order)))
        .where(F.col(rank_col) <= k)
    )


def quad(
    subj: Column | str,
    pred: Column | str,
    obj: Column | str,
    is_literal: bool | Column,
    graph: Column | str,
    arg_pos: Column | None = None,
    arg_name: Column | None = None,
) -> Column:
    """Build one quad struct (null-safe; filtered by `explode_quads`)."""

    def c(x):
        return F.lit(x) if not isinstance(x, Column) else x

    return F.struct(
        c(subj).cast(StringType()).alias("subj"),
        c(pred).cast(StringType()).alias("pred"),
        c(obj).cast(StringType()).alias("obj"),
        c(is_literal).alias("is_literal"),
        (arg_pos if arg_pos is not None else F.lit(None).cast(IntegerType())).alias("arg_pos"),
        (arg_name if arg_name is not None else F.lit(None).cast(StringType())).alias("arg_name"),
        c(graph).cast(StringType()).alias("graph"),
    )


def quad_blocks(*blocks: Column) -> Column:
    """Concatenate quad arrays into one, each coalesced with the empty array."""
    empty = F.array().cast(QUAD_ARRAY)
    return F.concat(*(F.coalesce(b, empty) for b in blocks))


def explode_quads(df: DataFrame, *blocks: Column) -> DataFrame:
    """Explode quad-array blocks into the canonical quad table.

    The null-block rule: a null block, a null quad, or a quad whose
    subject or object is null emits nothing, so an emitter states an
    optional field's triples without guarding them.  The reference's
    URI-validity filter (`create_docstrings_graph.py:140-151`) also
    applies: a quad is dropped when its subject/predicate — or a
    non-literal object — is not a valid URI.
    """
    q = df.select(F.explode(quad_blocks(*blocks)).alias("q")).select("q.*")
    is_uri_ok = lambda col: F.col(col).rlike(URI_RLIKE)  # noqa: E731
    return q.where(
        F.col("subj").isNotNull()
        & F.col("obj").isNotNull()
        & is_uri_ok("subj")
        & is_uri_ok("pred")
        & (F.col("is_literal") | is_uri_ok("obj"))
    )


def bool_lexical(col: Column) -> Column:
    """RDF lexical form of a boolean literal ('true'/'false')."""
    return F.when(col, F.lit("true")).otherwise(F.lit("false"))


def dotted_prefix(col: Column) -> Column:
    """``'.'.join(name.split('.')[:-1])`` (`create_docstrings_graph.py:367`)."""
    parts = F.split(col, r"\.")
    n = F.size(parts)
    return F.when(n > 1, F.array_join(F.slice(parts, 1, n - 1), ".")).otherwise(F.lit(""))


def path_end(col: Column) -> Column:
    """Last dotted component."""
    return F.element_at(F.split(col, r"\."), -1)


def drop_test_modules(catalog):
    """F9: skip `.tests.` submodules during catalog construction — the
    reference's walk filter `if '.tests.' in modname: continue`
    (`inspect_docstrings_per_module.py:522-523`), restated as a
    scan-time predicate over the record's qualified names (Catalyst
    pushes it into the catalog source)."""
    def has_tests(c):
        return F.coalesce(F.col(c).contains(".tests."), F.lit(False))

    return catalog.where(~(has_tests("klass") | has_tests("function")))
