"""E6/E7: analysis-graph emitters (dataflow/control-flow vocabulary).

Re-expresses `nodeToRDF` / `handleDataFlow` / `handleArgs` /
`handleAccesses` (`/root/reference/code_breaker/src/main/java/com/ibm/
wala/codeBreaker/turtle/PythonTurtleAnalysisEngine.java:319-420`) over a
DataFrame of analysis-node rows (ANALYSIS_NODES_SCHEMA) as pure column
expressions.

Exact reference semantics reproduced (verified against
`sample_graph/example1.nq`):

- node URI ``…/graph4code/se<n>`` under the BASE purl namespace (not the
  `/ontology/` one the docstrings graph uses) — `…Engine.java:320`
- ``rdfs:label`` = path joined with '.', **with a trailing separator when
  len(path) > 1** (the reference's `convertJSONArrayToString` never
  increments its index, `…Engine.java:308-317`, so "pandas.read_csv."),
  same for ``sourceLines`` joined with '\\n'
- ``schema:about`` = last path element (literal)
- ``flowsTo`` edges exist **only** as RDF*-annotated statements (Jena
  reification, `…Engine.java:377-388`); flattened here into
  (src, flowsTo, dst, arg_pos|arg_name) rows — the base triple is not
  separately asserted
- CONTROL edges are plain ``sio:SIO_000250`` triples
- constant positional/named args: (se, sio:SIO_000230, value) with
  arg_pos = position key / arg_name = name key
- reads/writes: (se, g4c:read|write, field) with the SIO_000420
  annotation flattened into arg_name; an all-digits field is a node
  reference (se URI), otherwise a literal — `…Engine.java:400-414`
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph4code_spark.functions import explode_quads, quad
from graph4code_spark.uris import (
    ANALYSIS_NODE_PREFIX,
    PREFIXES,
    SIO_HAS_INPUT,
    SIO_LOCATION,
    SIO_PRECEDES,
)

_G4C_BASE = "http://purl.org/twc/graph4code/"
_RDF = PREFIXES["rdf"]
_RDFS = PREFIXES["rdfs"]
_SCHEMA = PREFIXES["schema"]


def _se(col) -> F.Column:
    return F.concat(F.lit(ANALYSIS_NODE_PREFIX), col.cast("string"))


def _join_with_trailing(arr, sep: str):
    """Reference `convertJSONArrayToString` bug-compatible join: separator
    after every element when size > 1, plain element when size == 1."""
    return F.when(F.size(arr) > 1, F.concat(F.array_join(arr, sep), F.lit(sep))).otherwise(
        F.element_at(arr, 1)
    )


def analysis_triples(nodes: DataFrame) -> DataFrame:
    """ANALYSIS_NODES_SCHEMA rows → E6/E7 quads."""
    g = F.col("graph_uri")
    s = _se(F.col("node_number"))

    loc = F.col("source_location")
    # key order is Java's HashMap iteration order for this key set — the
    # reference emits the literal via JSONObject.toString()
    # (`…Engine.java:335-337`), and all 74 SIO_000061 literals across
    # `sample_graph/example{1,2,3}.nq` show exactly this sequence
    loc_json = F.to_json(
        F.struct(
            loc["last_line"].alias("lastLine"),
            loc["first_col"].alias("firstCol"),
            loc["last_offset"].alias("lastOffset"),
            loc["last_col"].alias("lastCol"),
            loc["first_offset"].alias("firstOffset"),
            loc["url"].alias("url"),
            loc["first_line"].alias("firstLine"),
        )
    )
    head = F.array(
        quad(s, _SCHEMA + "about", F.element_at(F.col("path"), -1), True, g),
        quad(s, _RDFS + "label", _join_with_trailing(F.col("path"), "."), True, g),
        # to_json of a null location is '{}', not null
        F.when(loc.isNotNull(), quad(s, SIO_LOCATION, loc_json, True, g)),
        quad(s, _SCHEMA + "text", F.col("source_text"), True, g),
        quad(s, _G4C_BASE + "sourceLines",
             _join_with_trailing(F.col("source_lines"), "\n"), True, g),
        quad(s, _G4C_BASE + "normalizedLabel", F.col("normalized_label"), True, g),
        F.when(F.col("is_import"), quad(s, _RDF + "type", _G4C_BASE + "Imported", False, g)),
    )
    value_names = F.transform(
        F.col("value_names"), lambda v: quad(s, _G4C_BASE + "valueNames", v, True, g)
    )
    const_pos = F.transform(
        F.map_entries(F.col("constant_positional_args")),
        lambda e: quad(s, SIO_HAS_INPUT, e["value"], True, g, arg_pos=e["key"].cast("int")),
    )
    const_named = F.transform(
        F.map_entries(F.col("constant_named_args")),
        lambda e: quad(s, SIO_HAS_INPUT, e["value"], True, g, arg_name=e["key"]),
    )

    def access_block(col_name: str, pred: str):
        fld = lambda r: r["field"]  # noqa: E731
        is_node = lambda r: fld(r).rlike("^[0-9]+$")  # noqa: E731
        return F.transform(
            F.col(col_name),
            lambda r: quad(
                s,
                _G4C_BASE + pred,
                F.when(is_node(r), F.concat(F.lit(ANALYSIS_NODE_PREFIX), fld(r))).otherwise(fld(r)),
                ~is_node(r),
                g,
                arg_name=fld(r),
            ),
        )

    precedes = F.transform(
        F.col("immediately_precedes"), lambda d: quad(s, SIO_PRECEDES, _se(d), False, g)
    )
    flows = F.flatten(
        F.transform(
            F.map_entries(F.col("flows_to")),
            lambda e: F.transform(
                e["value"],
                lambda d: quad(
                    s, _G4C_BASE + "flowsTo", _se(d), False, g,
                    arg_pos=F.when(e["key"].rlike("^[0-9]+$"), e["key"].cast("int")),
                    arg_name=F.when(~e["key"].rlike("^[0-9]+$"), e["key"]),
                ),
            ),
        )
    )

    return explode_quads(
        nodes, head, value_names, const_pos, const_named,
        access_block("reads", "read"), access_block("writes", "write"),
        precedes, flows,
    )
