"""Canonical schemas for every table that flows through the engine.

Shapes mirror the reference's intermediate data (SURVEY.md §1.2) and the
``input_hint`` page-table contract.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# --------------------------------------------------------------------------
# Primary input: Common-Crawl-style web pages (input_hint shape).
# --------------------------------------------------------------------------
WEB_PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

# --------------------------------------------------------------------------
# Broadcast API catalog — docstring-record schema
# (`/root/reference/src/create_docstrings_graph.py:8-83`).
# --------------------------------------------------------------------------
PARAM_INFO = StructType(
    [
        StructField("name", StringType(), True),
        StructField("param_doc", StringType(), True),
        StructField("type", StringType(), True),
        StructField("optional", BooleanType(), True),
        StructField("inferred_type", ArrayType(StringType()), True),
        StructField("dimensionality", ArrayType(IntegerType()), True),
    ]
)

RETURN_INFO = StructType(
    [
        StructField("doc", StringType(), True),
        StructField("type", StringType(), True),
        StructField("inferred_type", ArrayType(StringType()), True),
    ]
)

API_CATALOG_SCHEMA = StructType(
    [
        StructField("module", StringType(), True),
        StructField("klass", StringType(), True),
        StructField("function", StringType(), True),
        StructField("function_docstring", StringType(), True),
        StructField("class_docstring", StringType(), True),
        StructField("param_names", ArrayType(StringType()), True),
        StructField("param_map", MapType(StringType(), PARAM_INFO), True),
        StructField("return_map", RETURN_INFO, True),
        StructField("ret_types", StringType(), True),
        StructField("base_classes", ArrayType(StringType()), True),
    ]
)

# --------------------------------------------------------------------------
# Alias pairs (`classes.map`, `create_docstrings_graph.py:628-635`).
# --------------------------------------------------------------------------
CLASS_MAP_SCHEMA = StructType(
    [
        StructField("name_a", StringType(), False),
        StructField("name_b", StringType(), False),
    ]
)

# --------------------------------------------------------------------------
# The quad table — the engine's single output shape (SURVEY.md §1.1).
# RDF* positional annotations are flattened into nullable columns.
# --------------------------------------------------------------------------
TRIPLES_SCHEMA = StructType(
    [
        StructField("subj", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("obj", StringType(), False),
        StructField("is_literal", BooleanType(), False),
        StructField("arg_pos", IntegerType(), True),
        StructField("arg_name", StringType(), True),
        StructField("graph", StringType(), False),
    ]
)

TRIPLE_COLS = [f.name for f in TRIPLES_SCHEMA.fields]

# --------------------------------------------------------------------------
# Turtle-analysis node rows (one per node of a per-script dataflow graph),
# mirroring `sample_graph/example1.json` / `RunTurtleSingleAnalysis.java:
# 233-259`.
# --------------------------------------------------------------------------
ACCESS_INFO = StructType(
    [
        StructField("container", ArrayType(IntegerType()), True),
        StructField("field", StringType(), True),
    ]
)

SOURCE_LOCATION = StructType(
    [
        StructField("first_line", IntegerType(), True),
        StructField("last_line", IntegerType(), True),
        StructField("first_col", IntegerType(), True),
        StructField("last_col", IntegerType(), True),
        StructField("first_offset", IntegerType(), True),
        StructField("last_offset", IntegerType(), True),
        StructField("url", StringType(), True),
    ]
)

ANALYSIS_NODES_SCHEMA = StructType(
    [
        StructField("graph_uri", StringType(), False),
        StructField("node_number", IntegerType(), False),
        StructField("path", ArrayType(StringType()), True),
        StructField("path_end", StringType(), True),
        StructField("normalized_label", StringType(), True),
        StructField("is_import", BooleanType(), True),
        StructField("is_slice", BooleanType(), True),
        StructField("flows_to", MapType(StringType(), ArrayType(IntegerType())), True),
        StructField("immediately_precedes", ArrayType(IntegerType()), True),
        StructField("reads", ArrayType(ACCESS_INFO), True),
        StructField("writes", ArrayType(ACCESS_INFO), True),
        StructField("constant_positional_args", MapType(StringType(), StringType()), True),
        StructField("constant_named_args", MapType(StringType(), StringType()), True),
        StructField("value_names", ArrayType(StringType()), True),
        StructField("source_location", SOURCE_LOCATION, True),
        StructField("source_text", StringType(), True),
        StructField("source_lines", ArrayType(StringType()), True),
    ]
)
