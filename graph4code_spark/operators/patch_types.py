"""J5: the docstring-type patch join — attach ``inferred_type`` to
param/return entries by searching known class names inside their raw
``type`` strings.

Reference: `/root/reference/src/inspect_docstrings_per_module.py:453-501`
(`patch_types`): for every known class ``c`` (all classes the inspector
saw, plus the base types str/string/integer/int/bool/boolean/float/list/
tuple/iterator/map/set/array) it searches an Elasticsearch index of the
raw ``type`` strings with a must-match on the TAIL token of ``c``
(`get_pure_class_or_function_query`, :421-451, with
minimum_should_match=1), then appends ``c`` to
``param_map[p].inferred_type`` / ``return_map.inferred_type`` — return
hits normalized boolean→bool, integer→int, string→str (:488-497).

Spark-first restatement — no ES, no per-class loop:

1. explode the catalog's typed param/return slots into
   (key, slot, type_string) rows,
2. tokenize each type string the way the ES standard analyzer would
   (lowercase, split on non-alphanumeric),
3. equi-join the exploded tokens against a **broadcast** table of
   (class, tail-token) — one shuffle-free hash join, not |classes|
   index probes,
4. group back per slot and append the sorted distinct hits.

Deliberate deviations, documented: hits are appended sorted+distinct
(the reference appends in dict-iteration order and can duplicate);
tokenization approximates the ES standard analyzer by splitting on
``[^a-z0-9]+`` (underscores split).  Both choices are deterministic so
the DuckDB oracle can recompute the attach from the raw type strings.

Scale shape: the class list (even the reference's full 5.8M-entity
catalog yields <1M class names) broadcasts; the catalog side stays
partition-parallel; token explode is map-side; the only wide operation
is the per-slot groupBy, keyed by (key, param) — no skew (each slot has
≤ a few dozen tokens).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graph4code_spark.session import local_df

#: base types the reference unconditionally adds to the class set
#: (`inspect_docstrings_per_module.py:456-469`)
BASE_TYPES = [
    "str", "string", "integer", "int", "bool", "boolean", "float",
    "list", "tuple", "iterator", "map", "set", "array",
]

_RETURN_NORM = {"boolean": "bool", "integer": "int", "string": "str"}

_TOKEN_SPLIT = "[^a-z0-9]+"


def _key_col():
    """Entity key per the reference's dispatch: klass.function | klass |
    function (`create_docstrings_graph.py:358-390`)."""
    return F.when(
        F.col("klass").isNotNull() & F.col("function").isNotNull(),
        F.concat_ws(".", "klass", "function"),
    ).otherwise(F.coalesce("klass", "function"))


def class_table(catalog: DataFrame, extra: list[str] | None = None) -> DataFrame:
    """Known-class table (class, tail token) = catalog classes + base
    types (+ caller extras). Small — always broadcast."""
    spark = catalog.sparkSession
    from_catalog = (
        catalog.where(F.col("klass").isNotNull())
        .select(F.col("klass").alias("class_name"))
        .distinct()
    )
    fixed = local_df(
        spark, [(c,) for c in BASE_TYPES + list(extra or [])], "class_name string"
    )
    return (
        from_catalog.unionByName(fixed)
        .distinct()
        .select(
            "class_name",
            F.lower(F.element_at(F.split("class_name", r"\."), -1)).alias("tail"),
        )
        .where(F.col("tail") != "")
    )


def typed_slots(catalog: DataFrame) -> DataFrame:
    """(key, slot, type_string, existing inferred_type) — one row per
    typed param ('param:<name>') plus one per typed return ('return')."""
    key = _key_col().alias("key")
    params = (
        catalog.select(key, F.explode("param_map").alias("pname", "pinfo"))
        .where(F.col("pinfo.type").isNotNull())
        .select(
            "key",
            F.concat(F.lit("param:"), F.col("pname")).alias("slot"),
            F.col("pinfo.type").alias("type_string"),
            F.col("pinfo.inferred_type").alias("existing"),
        )
    )
    returns = (
        catalog.where(F.col("return_map.type").isNotNull())
        .select(
            key,
            F.lit("return").alias("slot"),
            F.col("return_map.type").alias("type_string"),
            F.col("return_map.inferred_type").alias("existing"),
        )
    )
    return params.unionByName(returns)


def patch_type_slots(catalog: DataFrame, extra_classes: list[str] | None = None) -> DataFrame:
    """The patch join itself: (key, slot, type_string, existing,
    additions, inferred_type) with inferred_type = existing ++ sorted
    distinct class hits (return hits normalized like the reference)."""
    slots = typed_slots(catalog)
    classes = class_table(catalog, extra_classes)

    toks = slots.select(
        "key", "slot",
        F.explode(
            F.array_distinct(
                F.filter(
                    F.split(F.lower("type_string"), _TOKEN_SPLIT),
                    lambda t: t != "",
                )
            )
        ).alias("tok"),
    )
    hits = (
        toks.join(F.broadcast(classes), toks["tok"] == classes["tail"])
        .select(
            "key", "slot",
            F.when(
                F.col("slot") == "return",
                F.coalesce(
                    F.create_map(
                        *[x for kv in _RETURN_NORM.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
                    )[F.col("class_name")],
                    F.col("class_name"),
                ),
            ).otherwise(F.col("class_name")).alias("hit"),
        )
        .groupBy("key", "slot")
        .agg(F.sort_array(F.collect_set("hit")).alias("additions"))
    )
    empty = F.array().cast("array<string>")
    return (
        slots.join(hits, ["key", "slot"], "left")
        .select(
            "key", "slot", "type_string", "existing",
            F.coalesce("additions", empty).alias("additions"),
            # slots with no hits keep their original value verbatim (incl.
            # null) — the reference only touches entries it matched
            F.when(
                F.size(F.coalesce("additions", empty)) > 0,
                F.concat(F.coalesce("existing", empty), F.col("additions")),
            ).otherwise(F.col("existing")).alias("inferred_type"),
        )
    )


def patch_catalog_types(catalog: DataFrame, extra_classes: list[str] | None = None) -> DataFrame:
    """Catalog → catalog with patched ``param_map``/``return_map``
    inferred_type (the full J5 semantics: untyped slots untouched)."""
    patched = patch_type_slots(catalog, extra_classes)
    key = _key_col().alias("key")

    p_upd = (
        patched.where(F.col("slot").startswith("param:"))
        .select(
            "key",
            F.expr("substring(slot, 7)").alias("pname"),
            F.col("inferred_type").alias("new_inferred"),
        )
        .groupBy("key")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("pname", "new_inferred"))
            ).alias("param_patch")
        )
    )
    r_upd = (
        patched.where(F.col("slot") == "return")
        .select("key", F.col("inferred_type").alias("ret_inferred"))
    )

    with_key = catalog.withColumn("key", _key_col())
    out = (
        with_key.join(F.broadcast(p_upd), "key", "left")
        .join(F.broadcast(r_upd), "key", "left")
        .withColumn(
            "param_map",
            F.when(
                F.col("param_map").isNotNull(),
                F.map_from_entries(
                    F.transform(
                        F.map_entries("param_map"),
                        lambda e: F.struct(
                            e["key"].alias("key"),
                            e["value"].withField(
                                "inferred_type",
                                F.coalesce(
                                    F.col("param_patch")[e["key"]],
                                    e["value"]["inferred_type"],
                                ),
                            ).alias("value"),
                        ),
                    )
                ),
            ),
        )
        .withColumn(
            "return_map",
            F.when(
                F.col("return_map").isNotNull() & F.col("ret_inferred").isNotNull(),
                F.col("return_map").withField("inferred_type", F.col("ret_inferred")),
            ).otherwise(F.col("return_map")),
        )
        .drop("key", "param_patch", "ret_inferred")
    )
    return out
