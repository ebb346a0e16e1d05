"""Driver-side tables are Arrow-built frames (``session.local_df``): they
collect the same rows as a list-built frame and start no Python worker."""

import inspect
import os

import graph4code_spark
from graph4code_spark import session
from graph4code_spark.emitters.docstrings import alias_table, build_class_alias_map
from graph4code_spark.emitters.forum import anchor_labels
from graph4code_spark.operators.canonicalize import connected_components
from graph4code_spark.plans.pipeline import StageRunner
from graph4code_spark.schemas import API_CATALOG_SCHEMA
from graph4code_spark.session import local_df
from graph4code_spark.synth import (
    FIXED_CATALOG,
    FIXED_CLASS_MAP,
    catalog_df,
    class_map_df,
)


def _rdd_lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def test_catalog_round_trip(spark):
    rows = [tuple(r.get(f.name) for f in API_CATALOG_SCHEMA.fields) for r in FIXED_CATALOG]
    # the shapes a naive Arrow conversion gets wrong are all present
    assert sum(r["param_map"] is None for r in FIXED_CATALOG) >= 1
    assert sum(r["param_map"] == {} for r in FIXED_CATALOG) >= 1
    assert sum(r["param_names"] == [] for r in FIXED_CATALOG) >= 1
    assert sum(isinstance(r["return_map"], dict) for r in FIXED_CATALOG) >= 1

    arrow = local_df(spark, rows, API_CATALOG_SCHEMA)
    listed = spark.createDataFrame(rows, API_CATALOG_SCHEMA)
    assert arrow.schema == listed.schema == API_CATALOG_SCHEMA
    got, want = arrow.collect(), listed.collect()
    assert got == want
    # a null map stays null, an empty one stays empty
    for row, rec in zip(got, FIXED_CATALOG):
        if rec["param_map"] is None:
            assert row.param_map is None, rec
        else:
            assert row.param_map is not None
            assert sorted(row.param_map) == sorted(rec["param_map"])


def test_empty_rows_keep_schema_and_write_a_readable_stage(spark, tmp_path):
    df = local_df(spark, [], API_CATALOG_SCHEMA)
    assert df.schema == API_CATALOG_SCHEMA
    assert df.collect() == spark.createDataFrame([], API_CATALOG_SCHEMA).collect() == []

    runner = StageRunner(spark, str(tmp_path / "kg"), "fp")
    out = runner.run("00_empty", lambda: df)
    assert out.collect() == []
    assert runner.manifest["00_empty"]["rows"] == 0
    back = spark.read.parquet(str(tmp_path / "kg" / "00_empty"))
    assert back.columns == API_CATALOG_SCHEMA.names and back.count() == 0


def test_driver_side_tables_start_no_python_worker(spark):
    # a list-built frame is a Python RDD; the check below would see it
    assert "PythonRDD" in _rdd_lineage(spark.createDataFrame([("a",)], "x string"))
    edges = class_map_df(spark).selectExpr("name_a as src", "name_b as dst")
    stats: dict = {}
    mapping = connected_components(edges, stats=stats)
    assert stats["path"] == "unionfind"
    tables = {
        "catalog": catalog_df(spark),
        "class_map": class_map_df(spark),
        "anchor": anchor_labels(spark, FIXED_CATALOG),
        "alias": alias_table(spark, build_class_alias_map(FIXED_CLASS_MAP)),
        "cc_mapping": mapping,
    }
    for name, df in tables.items():
        assert "PythonRDD" not in _rdd_lineage(df), name
        assert df.count() > 0, name


def test_local_df_is_the_only_constructor():
    """Every driver-side table in the package goes through ``local_df``."""
    root = os.path.dirname(graph4code_spark.__file__)
    lines, start = inspect.getsourcelines(local_df)
    allowed = range(start, start + len(lines))
    hits = []
    for dirpath, _, files in os.walk(root):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            with open(path) as f:
                for no, line in enumerate(f, 1):
                    if "createDataFrame(" in line and not (
                        path == session.__file__ and no in allowed
                    ):
                        hits.append(f"{os.path.relpath(path, root)}:{no}")
    assert hits == []
