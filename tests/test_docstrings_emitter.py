"""Golden parity: Spark E1–E3 emitter vs the straight-line reference
reimplementation, at set level (target P = R = 1.0)."""

from graph4code_spark.emitters.docstrings import build_class_alias_map, docstring_triples
from graph4code_spark.reference_impl.emitters import documentation_quads
from graph4code_spark.synth import FIXED_CATALOG, FIXED_CLASS_MAP, catalog_df
from graph4code_spark.uris import PREFIXES

_PY = PREFIXES["py"]


def spark_quads(spark, records, alias):
    df = docstring_triples(catalog_df(spark, records), alias)
    return {
        (r.subj, r.pred, r.obj, r.is_literal, r.graph)
        for r in df.collect()
    }


def oracle_quads(records, alias):
    out = set()
    for rec in records:
        out |= documentation_quads(rec, alias)
    return out


# records whose every optional field is null: only the head, the
# part-of chain and name_end are emitted
ALL_NULL = [{"function": "pkg.mod.f"}, {"klass": "pkg.mod.C"}]


def test_full_catalog_parity(spark):
    alias = build_class_alias_map(FIXED_CLASS_MAP)
    got = spark_quads(spark, FIXED_CATALOG + ALL_NULL, alias)
    want = oracle_quads(FIXED_CATALOG + ALL_NULL, alias)
    missing = want - got
    extra = got - want
    assert not missing, f"missing {len(missing)}: {sorted(missing)[:5]}"
    assert not extra, f"extra {len(extra)}: {sorted(extra)[:5]}"


def test_messy_param_map_keys(spark):
    rec = {
        "module": "httpretty",
        "function": "httpretty.register_uri",
        "param_names": ["method", "uri", "status"],
        "param_map": {
            "kw: keyword-arguments passed onto the :py:class": {
                "name": "kw", "param_doc": " kwargs", "type": None,
                "optional": None, "inferred_type": None, "dimensionality": None,
            },
            "int status": {
                "name": "status", "param_doc": " code", "type": None,
                "optional": None, "inferred_type": None, "dimensionality": None,
            },
            "uri": {
                "name": "uri", "param_doc": "", "type": " str",
                "optional": True, "inferred_type": ["str"], "dimensionality": None,
            },
            "method": {
                "name": "method", "param_doc": None, "type": None,
                "optional": False, "inferred_type": None, "dimensionality": None,
            },
            "status": {
                "name": "status", "param_doc": None, "type": None,
                "optional": None, "inferred_type": None, "dimensionality": None,
            },
        },
    }
    # without param_names no param_map key is recovered
    no_names = {
        "module": "m",
        "function": "m.h",
        "param_map": {"x": rec["param_map"]["uri"]},
    }
    got = spark_quads(spark, [rec, no_names], {})
    want = oracle_quads([rec, no_names], {})
    assert got == want
    optional = {(q[0].rsplit("/", 1)[-1], q[2]) for q in got if q[1].endswith("optional")}
    assert optional == {("2", "true"), ("1", "false")}
    assert not any(q[0].startswith(_PY + "m.h/p/") for q in got)


def test_invalid_uri_dropped(spark):
    rec = {
        "module": "m",
        "function": "m.f",
        "return_map": {"doc": " d", "type": " label or list, optional",
                       "inferred_type": None},
    }
    # a return map without a type emits no return block at all
    untyped = {
        "module": "m",
        "function": "m.g",
        "return_map": {"doc": " d", "type": None, "inferred_type": ["int"]},
    }
    got = spark_quads(spark, [rec, untyped], {})
    want = oracle_quads([rec, untyped], {})
    assert got == want
    # the spacey return_type URI must have been filtered on both sides
    assert not any("label or list" in q[2] for q in got)
    assert not any(q[0].startswith(_PY + "m.g") and "return" in q[1] for q in got)


def test_top_level_function_empty_prefix(spark):
    rec = {"module": "os", "function": "getcwd"}
    got = spark_quads(spark, [rec], {})
    want = oracle_quads([rec], {})
    assert got == want
