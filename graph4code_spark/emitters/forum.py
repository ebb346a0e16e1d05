"""E4/E5: forum-graph emitters (entity anchors + question/answer/snippet).

Re-expresses `create_doc_graph`'s anchor triples and
`add_stackoverflow_triples` (`/root/reference/src/utils.py:351-678`) as
column expressions: one broadcast join for anchors, one join
links⋈questions for the Q/A/snippet blocks, `transform`/`flatten` for the
per-answer and per-snippet expansions (W2 snippet numbering is the array
ordinal, 1-based — dense per question by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph4code_spark.functions import explode_quads, quad
from graph4code_spark.session import local_df
from graph4code_spark.synth import entity_name, entity_type
from graph4code_spark.uris import PREFIXES

_PY = PREFIXES["py"]
_RDF = PREFIXES["rdf"]
_RDFS = PREFIXES["rdfs"]
_SCHEMA = PREFIXES["schema"]
_SIOC = PREFIXES["sioc"]
_PROV = PREFIXES["prov"]


def anchor_labels(spark, catalog_records: list[dict]) -> DataFrame:
    """(entity, label, alt_label) per catalog record — the driver-side
    table the anchor quads join against."""
    rows = []
    for rec in catalog_records:
        name = entity_name(rec)
        etype = entity_type(rec)
        if etype == "method":
            rows.append((name, rec["function"], name))
        elif etype == "class":
            rows.append((name, rec["klass"], None))
        else:
            rows.append((name, rec["function"], None))
    return local_df(spark, rows, "entity string, label string, alt_label string")


def anchor_triples(
    links: DataFrame, catalog_records: list[dict], forum_prefix: str
) -> DataFrame:
    """rdfs:label (+ rdfs:altLabel for methods) for every entity with at
    least one search hit — emitted even when all hits are bad matches
    (`utils.py:395-419,455-467`)."""
    ent_df = anchor_labels(links.sparkSession, catalog_records)
    linked = links.select("entity").distinct()
    g = F.lit(forum_prefix)
    d = F.concat(F.lit(_PY), F.col("entity"))
    joined = linked.join(F.broadcast(ent_df), "entity")
    quads = F.array(
        quad(d, _RDFS + "label", F.col("label"), True, g),
        quad(d, _RDFS + "altLabel", F.col("alt_label"), True, g),
    )
    return explode_quads(joined, quads)


def question_triples(links: DataFrame, qa: DataFrame, forum_prefix: str) -> DataFrame:
    """Per good-match (entity, question): the E5 block (`utils.py:627-678`)."""
    g = F.lit(forum_prefix)
    good = links.where(F.col("good_match")).select("url", "entity")
    j = good.join(qa, "url")

    q_url = F.concat(F.lit(forum_prefix), F.col("question_id"))
    ent_uri = F.concat(F.lit(_PY), F.col("entity"))

    head = F.array(
        quad(q_url, _RDF + "type", _SCHEMA + "Question", False, g),
        quad(q_url, _SCHEMA + "about", ent_uri, False, g),
        quad(q_url, _SCHEMA + "name", F.col("title"), True, g),
        quad(q_url, _SIOC + "content", F.col("q_body"), True, g),
        quad(q_url, _SCHEMA + "keywords", F.col("tags"), True, g),
    )
    a_uri = lambda a: F.concat(F.lit(forum_prefix + "a/"), a["aid"])  # noqa: E731
    ans_block = F.flatten(
        F.transform(
            F.col("answers"),
            lambda a: F.array(
                quad(q_url, _SCHEMA + "suggestedAnswer", a_uri(a), False, g),
                quad(a_uri(a), _RDF + "type", _SCHEMA + "Answer", False, g),
                quad(a_uri(a), _SIOC + "content", a["body"], True, g),
                quad(a_uri(a), _SCHEMA + "upvoteCount", a["votes"], True, g),
            ),
        )
    )
    code_uri = lambda i: F.concat(  # noqa: E731
        F.lit(forum_prefix), F.col("question_id"), F.lit("/code_snippet/"),
        (i + 1).cast("string"),
    )
    code_block = F.flatten(
        F.transform(
            F.col("codes"),
            lambda c, i: F.array(
                quad(q_url, _SCHEMA + "hasPart", code_uri(i), False, g),
                quad(code_uri(i), _RDF + "type", _SCHEMA + "SoftwareSourceCode", False, g),
                quad(code_uri(i), _PROV + "value", c, True, g),
            ),
        )
    )
    return explode_quads(j, head, ans_block, code_block)


def forum_triples(
    links: DataFrame,
    qa: DataFrame,
    catalog_records: list[dict],
    forum_prefix: str = PREFIXES["stackoverflow3"],
) -> DataFrame:
    """Anchors ∪ question blocks — the full forum named graph."""
    return anchor_triples(links, catalog_records, forum_prefix).unionByName(
        question_triples(links, qa, forum_prefix)
    )
