"""URI vocabulary + node-identity scheme of the graph4code triple model.

The namespace table and URI constructors mirror the reference's scheme
(`/root/reference/src/utils.py:52-74`, `/root/reference/src/
create_docstrings_graph.py:85-99,348-349`) — these are public RDF
namespaces plus the published graph4code purl scheme; node identity must
match exactly for triple-level P/R against the reference emitters.
"""

from __future__ import annotations

import re

PREFIXES: dict[str, str] = {
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "schema": "http://schema.org/",
    "sioc": "http://rdfs.org/sioc/ns#",
    "py": "http://purl.org/twc/graph4code/python/",
    "skos": "http://www.w3.org/2004/02/skos/core#",
    "sio": "http://semanticscience.org/resource/",
    "graph4code": "http://purl.org/twc/graph4code/ontology/",
    "owl": "http://www.w3.org/2002/07/owl#",
    "prov": "http://www.w3.org/ns/prov#",
    "dcat": "http://www.w3.org/ns/dcat#",
    "dcterms": "http://purl.org/dc/terms/",
    "stackoverflow3": "https://stackoverflow.com/questions/",
    "npstackoverflow3": "http://purl.org/twc/graph4code/so/nanopub/",
    "stats_stackexchange": "https://stats.stackexchange.com/questions/",
    "datascience_stackexchange": "https://datascience.stackexchange.com/questions/",
    "math_stackexchange": "https://math.stackexchange.com/questions/",
    "ai_stackexchange": "https://ai.stackexchange.com/questions/",
}

#: graph URI of the docstrings named graph
#: (`create_docstrings_graph.py:85`)
DOCSTRINGS_GRAPH = "http://purl.org/twc/graph4code/docstrings"

#: analysis-node URI prefix (`PythonTurtleAnalysisEngine.java:320`)
ANALYSIS_NODE_PREFIX = "http://purl.org/twc/graph4code/se"

# SIO numeric predicates used by the analysis-edge vocabulary
# (`PythonTurtleAnalysisEngine.java:375-420`)
SIO_HAS_INPUT = PREFIXES["sio"] + "SIO_000230"       # has-input (arg edge)
SIO_NAME = PREFIXES["sio"] + "SIO_000116"            # name (named arg)
SIO_PRECEDES = PREFIXES["sio"] + "SIO_000250"        # immediatelyPrecedes
SIO_LOCATION = PREFIXES["sio"] + "SIO_000061"        # located-in (src loc)


# ---------------------------------------------------------------------------
# URI validation (reference drops triples whose URIRef fails validators.url,
# `create_docstrings_graph.py:140-151`).  We reproduce the practically
# relevant semantics with a single compiled regex so it can run vectorized
# inside pandas UDFs and as a Spark `rlike`.
#
# validators.url accepts scheme://host[:port][/path][?query][#fragment] with
# a non-empty dotted or localhost-ish host.  For our URI universe (http(s)
# purls + forum URLs), the failure modes that matter are: spaces and control
# characters in the path, an empty/whitespace entity name, backticks,
# quotes, braces, angle brackets, pipes and backslashes — all of which
# appear in dirty docstring-derived names.
# ---------------------------------------------------------------------------

URI_REGEX = re.compile(
    r"^https?://"                                  # scheme
    r"[A-Za-z0-9]([A-Za-z0-9\-]*[A-Za-z0-9])?"     # host label
    r"(\.[A-Za-z0-9]([A-Za-z0-9\-]*[A-Za-z0-9])?)+"  # dotted host
    r"(:\d+)?"                                     # port
    r"(/[^\s<>\"'`{}|\\^\[\]]*)?$"                 # path w/o bad chars
)

#: same predicate as a Spark SQL ``rlike`` pattern (Java regex)
URI_RLIKE = (
    r"^https?://[A-Za-z0-9]([A-Za-z0-9\-]*[A-Za-z0-9])?"
    r"(\.[A-Za-z0-9]([A-Za-z0-9\-]*[A-Za-z0-9])?)+(:\d+)?"
    r"(/[^\s<>\"'`{}|\\^\[\]]*)?$"
)


def is_valid_uri(uri: str) -> bool:
    """True if ``uri`` would survive the reference's URI filter."""
    return bool(URI_REGEX.match(uri))
