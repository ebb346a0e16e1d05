"""E1–E3: documentation-triple emitters (docstrings graph).

Re-expresses `output_documentation_triples` / `add_triples_from_param_map`
/ `add_triples_from_return_map` / `add_part_of_edges` / `add_name_end`
(`/root/reference/src/create_docstrings_graph.py:123-471`) as **pure
column expressions** over the catalog DataFrame: one `transform`/`explode`
pipeline, no Python UDF (the `transform`/`exists`/`sequence` lambdas
evaluate interpreted).

Semantics reproduced exactly (they drive triple-level P/R):
- entity-type dispatch class/function/method and the doc URI/label scheme
- the dotted-hierarchy `isPartOf`/`classMember` chain with labels
- `name_end` (skipped for empty/`_`/undotted names)
- `aliasOf` from the symmetric class map (classes only)
- `subClassOf` per base class
- the parameter block from both `param_names` (ordinal) and `param_map`
  (key-normalized: keys containing space/colon are re-split and recovered
  against `param_names`, unknown keys dropped)
- the return block (`/r/1`), with `return_inferred_type` attached to the
  **entity** node (reference quirk, `create_docstrings_graph.py:250-254`)
- URI-validity filtering of every URI position (via `explode_quads`)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph4code_spark.functions import (
    bool_lexical,
    dotted_prefix,
    explode_quads,
    quad,
    quad_blocks,
)
from graph4code_spark.session import local_df
from graph4code_spark.uris import DOCSTRINGS_GRAPH, PREFIXES

_G = DOCSTRINGS_GRAPH  # quad() lifts plain strings to literals lazily
_PY = PREFIXES["py"]
_RDF = PREFIXES["rdf"]
_RDFS = PREFIXES["rdfs"]
_SKOS = PREFIXES["skos"]
_G4C = PREFIXES["graph4code"]
_DCT = PREFIXES["dcterms"]


def _norm(col):
    """`strip().replace(' ', '.')` name normalization
    (`create_docstrings_graph.py:353-355`)."""
    return F.regexp_replace(F.trim(col), " ", ".")


def build_class_alias_map(pairs: list[tuple[str, str]]) -> dict[str, str]:
    """Load alias pairs with the reference's symmetric last-wins semantics
    (`create_docstrings_graph.py:628-635`)."""
    out: dict[str, str] = {}
    for a, b in pairs:
        if a != b:
            out[a] = b
            out[b] = a
    return out


def alias_table(spark, alias: dict[str, str]) -> DataFrame:
    """(alias_key, alias_val) rows of an alias map, for a broadcast join."""
    return local_df(spark, list(alias.items()), "alias_key string, alias_val string")


def docstring_triples(catalog: DataFrame, class_alias: dict[str, str]) -> DataFrame:
    """Catalog → quad table for the docstrings named graph.

    ``class_alias``: the symmetric class map (`build_class_alias_map`),
    ``{}`` for none."""
    spark = catalog.sparkSession

    c = (
        catalog.withColumn("klass_n", _norm(F.col("klass")))
        .withColumn("function_n", _norm(F.col("function")))
    )
    etype = (
        F.when(F.col("klass_n").isNotNull() & F.col("function_n").isNotNull(), "method")
        .when(F.col("klass_n").isNotNull(), "class")
        .otherwise("function")
    )
    doc_name = (
        F.when(etype == "method", F.concat_ws(".", "klass_n", "function_n"))
        .when(etype == "class", F.col("klass_n"))
        .otherwise(F.col("function_n"))
    )
    c = c.withColumn("etype", etype).withColumn("doc_name", doc_name)
    c = c.withColumn("doc_uri", F.concat(F.lit(_PY), F.col("doc_name")))

    # alias map join (classes only) — tiny broadcast
    c = c.join(
        F.broadcast(alias_table(spark, class_alias)),
        (F.col("etype") == "class") & (F.col("klass_n") == F.col("alias_key")),
        "left",
    )

    d = F.col("doc_uri")

    # -- head: rdf:type + rdfs:label, name_end, aliasOf ----------------------
    type_obj = (
        F.when(F.col("etype") == "class", F.lit(_G4C + "Class"))
        .when(F.col("etype") == "method", F.lit(_G4C + "Method"))
        .otherwise(F.lit(_G4C + "Function"))
    )
    # name_end (`create_docstrings_graph.py:339-347`)
    ne_name = F.regexp_replace(F.trim(F.col("doc_name")), '"', "")
    ne_comp = F.split(F.trim(ne_name), r"\.")
    ne = F.trim(F.element_at(ne_comp, -1))
    head = F.array(
        quad(d, _RDF + "type", type_obj, False, _G),
        quad(d, _RDFS + "label", F.col("doc_name"), True, _G),
        F.when(
            (ne != "") & (ne != "_") & (F.size(ne_comp) >= 2),
            quad(d, _G4C + "name_end", F.element_at(ne_comp, -1), True, _G),
        ),
        quad(d, _G4C + "aliasOf", F.concat(F.lit(_PY), F.col("alias_val")), False, _G),
    )

    # -- isPartOf / classMember hierarchy ----------------------------------
    part_name = (
        F.when(F.col("etype") == "method", F.col("klass_n"))
        .when(F.col("etype") == "class", dotted_prefix(F.col("klass_n")))
        .otherwise(dotted_prefix(F.col("function_n")))
    )
    part_pred = F.when(
        F.col("etype") == "class", F.lit(_DCT + "isPartOf")
    ).otherwise(F.lit(_G4C + "classMember"))
    part_uri = F.concat(F.lit(_PY), part_name)
    part_block = F.array(
        quad(d, part_pred, part_uri, False, _G),
        quad(part_uri, _RDFS + "label", part_name, True, _G),
    )
    comp = F.split(part_name, r"\.")
    seg = lambda i: F.array_join(F.slice(comp, 1, i), ".")  # noqa: E731
    chain = F.when(
        F.size(comp) >= 2,
        F.flatten(
            F.transform(
                F.sequence(F.lit(2), F.size(comp)),
                lambda i: F.array(
                    quad(
                        F.concat(F.lit(_PY), seg(i)),
                        _DCT + "isPartOf",
                        F.concat(F.lit(_PY), seg(i - 1)),
                        False,
                        _G,
                    ),
                    quad(F.concat(F.lit(_PY), seg(i - 1)), _RDFS + "label", seg(i - 1), True, _G),
                ),
            )
        ),
    )

    # -- subClassOf per base class -------------------------------------------
    base_block = F.transform(
        F.col("base_classes"),
        lambda b: quad(d, _RDFS + "subClassOf", F.concat(F.lit(_PY), b), False, _G),
    )

    # -- return block ----------------------------------------------------------
    r_uri = F.concat(d, F.lit("/r/1"))
    rm = F.col("return_map")
    has_return = rm["type"].isNotNull()
    ret_block = F.when(
        has_return,
        F.array(
            quad(d, _G4C + "return", r_uri, False, _G),
            quad(r_uri, _RDF + "type", _G4C + "Return", False, _G),
            quad(r_uri, _G4C + "return_type", F.concat(F.lit(_PY), F.trim(rm["type"])), False, _G),
            quad(r_uri, _G4C + "return_index", F.lit("1"), True, _G),
            quad(r_uri, _SKOS + "definition", F.trim(rm["doc"]), True, _G),
        ),
    )
    ret_inferred = F.when(
        has_return,
        F.transform(
            rm["inferred_type"],
            lambda t: quad(d, _G4C + "return_inferred_type", F.concat(F.lit(_PY), t), False, _G),
        ),
    )

    # -- parameter ordinals from param_names ---------------------------------
    p_uri = lambda i: F.concat(d, F.lit("/p/"), i.cast("string"))  # noqa: E731
    pnames_block = F.flatten(
        F.transform(
            F.col("param_names"),
            lambda p, i: F.array(
                quad(d, _G4C + "param", p_uri(i + 1), False, _G),
                quad(p_uri(i + 1), _RDF + "type", _G4C + "Parameter", False, _G),
                quad(p_uri(i + 1), _RDFS + "label", p, True, _G),
                quad(p_uri(i + 1), _G4C + "param_index", (i + 1).cast("string"), True, _G),
            ),
        )
    )

    # -- param_map block -------------------------------------------------------
    def pm_entry(e):
        key, v = e["key"], e["value"]
        messy = key.contains(" ") | key.contains(":")
        arr = F.split(F.trim(key), "[ :]")
        recovered = F.when(
            F.exists(arr, lambda p: F.array_position(F.col("param_names"), p) > 0),
            F.element_at(arr, 1),
        ).otherwise(F.lit(""))
        key_final = F.when(messy, recovered).otherwise(key)
        idx = F.array_position(F.col("param_names"), key_final)
        # every quad of the entry has the parameter as subject or object,
        # so a null `pu` drops an unknown key (or null `param_names`) whole
        pu = F.when((key_final != "") & (idx > 0), p_uri(idx))
        return quad_blocks(
            F.array(
                quad(pu, _RDF + "type", _G4C + "Parameter", False, _G),
                quad(pu, _RDFS + "label", F.trim(key_final), True, _G),
                quad(pu, _G4C + "param_index", idx.cast("string"), True, _G),
                quad(d, _G4C + "param", pu, False, _G),
                quad(pu, _RDFS + "label", F.trim(v["name"]), True, _G),
                quad(pu, _SKOS + "definition", F.trim(v["param_doc"]), True, _G),
                quad(pu, _G4C + "param_type", F.trim(v["type"]), True, _G),
                # bool_lexical(null) is 'false'
                F.when(
                    v["optional"].isNotNull(),
                    quad(pu, _G4C + "optional", bool_lexical(v["optional"]), True, _G),
                ),
            ),
            F.transform(
                v["inferred_type"],
                lambda t: quad(pu, _G4C + "param_inferred_type", F.concat(F.lit(_PY), t), False, _G),
            ),
        )

    pmap_block = F.flatten(F.transform(F.map_entries(F.col("param_map")), pm_entry))

    # -- module block -----------------------------------------------------------
    module_uri = F.concat(F.lit(_PY), F.element_at(F.split(F.col("doc_name"), r"\."), 1))
    module_block = F.when(
        F.col("module").isNotNull(),
        F.array(
            quad(d, _G4C + "module", module_uri, False, _G),
            quad(module_uri, _RDF + "type", _G4C + "Module", False, _G),
        ),
    )

    # -- docstrings + ret_types ---------------------------------------------------
    doc_block = F.array(
        quad(d, _SKOS + "definition", F.col("function_docstring"), True, _G),
        quad(d, _SKOS + "definition", F.col("class_docstring"), True, _G),
        quad(d, _G4C + "ret_types", F.col("ret_types"), True, _G),
    )

    return explode_quads(
        c, head, part_block, chain, base_block, ret_block, ret_inferred,
        pnames_block, pmap_block, module_block, doc_block,
    )
