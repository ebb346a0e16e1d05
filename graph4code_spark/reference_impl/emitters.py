"""Straight-line, per-record reimplementation of the reference emitters.

This is the P/R golden oracle: an independent, non-Spark implementation of
the triple-emission semantics of
`/root/reference/src/create_docstrings_graph.py:123-471` (documentation
triples) and `/root/reference/src/utils.py:627-678` (forum triples), used
by tests to verify the DataFrame emitters at set-level P/R ≥ 0.95 (target
1.0 — both sides are deterministic).

Written fresh against the observed behavior; quads are
``(subj, pred, obj, is_literal, graph)`` tuples with RDF lexical forms for
literals (bool → 'true'/'false', int → str).
"""

from __future__ import annotations

import re

from graph4code_spark.uris import DOCSTRINGS_GRAPH, PREFIXES, is_valid_uri

_PY = PREFIXES["py"]
_RDF = PREFIXES["rdf"]
_RDFS = PREFIXES["rdfs"]
_SKOS = PREFIXES["skos"]
_G4C = PREFIXES["graph4code"]
_DCT = PREFIXES["dcterms"]
_SCHEMA = PREFIXES["schema"]
_SIOC = PREFIXES["sioc"]
_PROV = PREFIXES["prov"]

Quad = tuple[str, str, str, bool, str]


def _lex(v) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


class QuadSink:
    """Set-semantics sink with the reference's URI-validity filter
    (`create_docstrings_graph.py:140-151`)."""

    def __init__(self) -> None:
        self.quads: set[Quad] = set()

    def add(self, subj: str, pred: str, obj, is_literal: bool, graph: str) -> None:
        if not is_valid_uri(subj) or not is_valid_uri(pred):
            return
        if not is_literal and not is_valid_uri(str(obj)):
            return
        self.quads.add((subj, pred, _lex(obj), is_literal, graph))


def _norm_name(name):
    return name.strip().replace(" ", ".") if name is not None else None


def _part_of_edges(sink: QuadSink, doc_uri: str, class_or_module: str, is_function: bool):
    comp = class_or_module.split(".")
    part_uri = _PY + class_or_module
    pred = _G4C + "classMember" if is_function else _DCT + "isPartOf"
    sink.add(doc_uri, pred, part_uri, False, DOCSTRINGS_GRAPH)
    sink.add(part_uri, _RDFS + "label", class_or_module, True, DOCSTRINGS_GRAPH)
    prev = comp[0]
    for i in range(1, len(comp)):
        src = prev + "." + comp[i]
        sink.add(_PY + src, _DCT + "isPartOf", _PY + prev, False, DOCSTRINGS_GRAPH)
        sink.add(_PY + prev, _RDFS + "label", prev.strip(), True, DOCSTRINGS_GRAPH)
        prev = src


def _name_end(sink: QuadSink, name: str, doc_uri: str):
    name = name.strip().replace('"', "")
    comp = name.strip().split(".")
    pe = comp[-1]
    if pe.strip() in ("", "_"):
        return
    if len(comp) > 1:
        sink.add(doc_uri, _G4C + "name_end", pe, True, DOCSTRINGS_GRAPH)


def _param_map_triples(sink: QuadSink, doc_uri: str, param_map, param_names):
    if param_names is None or param_map is None:
        return
    for key, value in param_map.items():
        if " " in key or ":" in key:
            key = key.strip()
            arr = re.split(" |:", key)
            nkey = ""
            for part in arr:
                if part in param_names:
                    nkey = arr[0]
                    break
            if nkey == "":
                continue
            key = nkey
        if key not in param_names:
            continue
        idx = param_names.index(key) + 1
        pu = f"{doc_uri}/p/{idx}"
        sink.add(pu, _RDF + "type", _G4C + "Parameter", False, DOCSTRINGS_GRAPH)
        sink.add(pu, _RDFS + "label", key.strip(), True, DOCSTRINGS_GRAPH)
        sink.add(pu, _G4C + "param_index", idx, True, DOCSTRINGS_GRAPH)
        sink.add(doc_uri, _G4C + "param", pu, False, DOCSTRINGS_GRAPH)
        for k2, v2 in (value or {}).items():
            if v2 is None:
                continue
            pred = _G4C + k2
            if k2 == "name":
                pred = _RDFS + "label"
            elif k2 == "param_doc":
                pred = _SKOS + "definition"
            elif k2 == "type":
                pred = _G4C + "param_type"
            elif k2 == "inferred_type":
                pred = _G4C + "param_inferred_type"
            elif k2 == "optional":
                pred = _G4C + "optional"
            if isinstance(v2, list):
                if k2 == "inferred_type":
                    for val in v2:
                        sink.add(pu, pred, _PY + val, False, DOCSTRINGS_GRAPH)
                # other list-valued fields are skipped by the reference
            else:
                if isinstance(v2, str):
                    v2 = v2.strip()
                sink.add(pu, pred, v2, True, DOCSTRINGS_GRAPH)


def _return_map_triples(sink: QuadSink, doc_uri: str, rm):
    if rm is None or rm.get("type") is None:
        return
    ru = f"{doc_uri}/r/1"
    sink.add(doc_uri, _G4C + "return", ru, False, DOCSTRINGS_GRAPH)
    sink.add(ru, _RDF + "type", _G4C + "Return", False, DOCSTRINGS_GRAPH)
    sink.add(ru, _G4C + "return_type", _PY + rm["type"].strip(), False, DOCSTRINGS_GRAPH)
    sink.add(ru, _G4C + "return_index", 1, True, DOCSTRINGS_GRAPH)
    for inf in rm.get("inferred_type") or []:
        sink.add(doc_uri, _G4C + "return_inferred_type", _PY + inf, False, DOCSTRINGS_GRAPH)
    if rm.get("doc") is not None:
        sink.add(ru, _SKOS + "definition", rm["doc"].strip(), True, DOCSTRINGS_GRAPH)


def documentation_quads(record: dict, class_map: dict[str, str] | None = None) -> set[Quad]:
    """All quads `output_documentation_triples` emits for one record."""
    sink = QuadSink()
    class_map = class_map or {}
    module = _norm_name(record.get("module"))
    klass = _norm_name(record.get("klass"))
    function = _norm_name(record.get("function"))

    if klass and function:
        etype, doc_name = "method", klass + "." + function
    elif klass:
        etype, doc_name = "class", klass
    else:
        etype, doc_name = "function", function
    doc_uri = _PY + doc_name

    if etype == "class":
        sink.add(doc_uri, _RDF + "type", _G4C + "Class", False, DOCSTRINGS_GRAPH)
        sink.add(doc_uri, _RDFS + "label", klass, True, DOCSTRINGS_GRAPH)
        prefix = ".".join(klass.split(".")[:-1])
        _part_of_edges(sink, doc_uri, prefix, is_function=False)
        _name_end(sink, klass, doc_uri)
        if klass in class_map:
            sink.add(doc_uri, _G4C + "aliasOf", _PY + class_map[klass], False, DOCSTRINGS_GRAPH)
    elif etype == "function":
        sink.add(doc_uri, _RDF + "type", _G4C + "Function", False, DOCSTRINGS_GRAPH)
        sink.add(doc_uri, _RDFS + "label", function, True, DOCSTRINGS_GRAPH)
        prefix = ".".join(function.split(".")[:-1])
        _part_of_edges(sink, doc_uri, prefix, is_function=True)
        _name_end(sink, function, doc_uri)
    else:
        sink.add(doc_uri, _RDF + "type", _G4C + "Method", False, DOCSTRINGS_GRAPH)
        sink.add(doc_uri, _RDFS + "label", doc_name, True, DOCSTRINGS_GRAPH)
        _part_of_edges(sink, doc_uri, klass, is_function=True)
        _name_end(sink, doc_name, doc_uri)

    for base in record.get("base_classes") or []:
        sink.add(doc_uri, _RDFS + "subClassOf", _PY + base, False, DOCSTRINGS_GRAPH)

    _return_map_triples(sink, doc_uri, record.get("return_map"))

    if record.get("param_names") is not None:
        for i, p in enumerate(record["param_names"], start=1):
            pu = f"{doc_uri}/p/{i}"
            sink.add(doc_uri, _G4C + "param", pu, False, DOCSTRINGS_GRAPH)
            sink.add(pu, _RDF + "type", _G4C + "Parameter", False, DOCSTRINGS_GRAPH)
            sink.add(pu, _RDFS + "label", p, True, DOCSTRINGS_GRAPH)
            sink.add(pu, _G4C + "param_index", i, True, DOCSTRINGS_GRAPH)

    _param_map_triples(sink, doc_uri, record.get("param_map"), record.get("param_names"))

    if module is not None:
        module_uri = _PY + doc_name.split(".")[0]
        sink.add(doc_uri, _G4C + "module", module_uri, False, DOCSTRINGS_GRAPH)
        sink.add(module_uri, _RDF + "type", _G4C + "Module", False, DOCSTRINGS_GRAPH)

    if record.get("function_docstring") is not None:
        sink.add(doc_uri, _SKOS + "definition", record["function_docstring"], True, DOCSTRINGS_GRAPH)
    if record.get("class_docstring") is not None:
        sink.add(doc_uri, _SKOS + "definition", record["class_docstring"], True, DOCSTRINGS_GRAPH)
    if record.get("ret_types") is not None:
        sink.add(doc_uri, _G4C + "ret_types", record["ret_types"], True, DOCSTRINGS_GRAPH)
    return sink.quads


def forum_quads(
    entity_record: dict,
    matches: list[dict],
    forum_prefix: str,
) -> set[Quad]:
    """Quads `create_doc_graph` + `add_stackoverflow_triples` emit for one
    catalog entity and its matched questions (`utils.py:351-678`).

    ``matches``: [{question_id, title, question_text, tags, good_match,
    answers: [(aId,…,answerBody@5,…,votes@7)], codes: [str]}]
    (codes = multi-line <code> blocks of question_text + answer bodies,
    in document order).
    """
    sink = QuadSink()
    g = forum_prefix
    klass = entity_record.get("klass")
    function = entity_record.get("function")
    if klass and function:
        ent_name = klass + "." + function
        doc_uri = _PY + ent_name
        sink.add(doc_uri, _RDFS + "label", function, True, g)
        sink.add(doc_uri, _RDFS + "altLabel", ent_name, True, g)
    elif klass:
        ent_name = klass
        doc_uri = _PY + klass
        sink.add(doc_uri, _RDFS + "label", klass, True, g)
    else:
        ent_name = function
        doc_uri = _PY + function
        sink.add(doc_uri, _RDFS + "label", function, True, g)

    for qa in matches:
        if str(qa.get("good_match", "True")) == "False":
            continue
        q_url = g + str(qa["question_id"])
        sink.add(q_url, _RDF + "type", _SCHEMA + "Question", False, g)
        sink.add(q_url, _SCHEMA + "about", doc_uri, False, g)
        sink.add(q_url, _SCHEMA + "name", qa["title"], True, g)
        sink.add(q_url, _SIOC + "content", qa["question_text"], True, g)
        if "tags" in qa and qa["tags"] is not None:
            sink.add(q_url, _SCHEMA + "keywords", qa["tags"], True, g)
        for ans in qa.get("answers") or []:
            ans_id, ans_text, ans_votes = ans[0], ans[5], ans[7]
            ans_url = g + "a/" + str(ans_id)
            sink.add(q_url, _SCHEMA + "suggestedAnswer", ans_url, False, g)
            sink.add(ans_url, _RDF + "type", _SCHEMA + "Answer", False, g)
            sink.add(ans_url, _SIOC + "content", ans_text, True, g)
            sink.add(ans_url, _SCHEMA + "upvoteCount", ans_votes, True, g)
        for code_id, code in enumerate(qa.get("codes") or [], start=1):
            code_uri = f"{g}{qa['question_id']}/code_snippet/{code_id}"
            sink.add(q_url, _SCHEMA + "hasPart", code_uri, False, g)
            sink.add(code_uri, _RDF + "type", _SCHEMA + "SoftwareSourceCode", False, g)
            sink.add(code_uri, _PROV + "value", code, True, g)
    return sink.quads


def _entity_searches(docs, records, cap):
    """The reference's per-entity ES-style AND search + BM25 cap loop
    (`utils.py:253-343`) over parsed docs (dicts with ``url`` and
    ``content``): yields ``(record, name, etype, qualified, hits)`` per
    entity with at least one hit, ``hits`` = ``[(bm25, tf_sum, doc)]``
    best first, at most ``cap`` of them.

    The window is ordered by BM25 (k1=1.2, b=0.75, Lucene idf) — the
    score ES's single-field `most_fields` multi_match caps by
    (`utils.py:281-292`) — computed straight-line from the whole doc
    list (df / N / avgdl), independent of the Spark operator's
    partial-statistics plan.  Raw tf then url break ties."""
    import math
    from collections import Counter

    from graph4code_spark.analyzer import analyze, entity_required_tokens
    from graph4code_spark.synth import entity_name, entity_type

    # index statistics, straight-line over every doc; one Counter per
    # doc so tf is a lookup, not a rescan per required token
    doc_toks = [analyze(d["content"]) for d in docs]
    doc_counts = [Counter(toks) for toks in doc_toks]
    n_docs = max(len(docs), 1)
    avgdl = max(sum(len(t) for t in doc_toks) / n_docs, 1.0) if docs else 1.0
    dfreq: dict = {}
    for cnt in doc_counts:
        for t in cnt:
            dfreq[t] = dfreq.get(t, 0) + 1

    for rec in records:
        name = entity_name(rec)
        etype = entity_type(rec)
        if etype == "method":
            required = entity_required_tokens(rec["klass"], rec["function"])
            qualified = rec["klass"] + "." + rec["function"]
        else:
            required = entity_required_tokens(name)
            qualified = name
        hits = []
        for d, toks, cnt in zip(docs, doc_toks, doc_counts):
            if all(t in cnt for t in required):
                score = sum(cnt[t] for t in required)
                dl = len(toks)
                rel = 0.0
                # sorted: same float summation order as the operator
                # (set iteration order is per-process hash-randomized)
                for t in sorted(required):
                    tf = cnt[t]
                    df_t = dfreq.get(t, 0)
                    idf = math.log(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
                    rel += idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
                hits.append((rel, score, d))
        hits.sort(key=lambda x: (-x[0], -x[1], x[2]["url"]))
        if hits:
            yield rec, name, etype, qualified, hits[:cap]


def reference_links(docs, records, cap=5000) -> list[tuple]:
    """Straight-line entity→doc links: one
    ``(url, question_id, entity, etype, score, good_match, bm25)`` row
    per kept (doc, entity) hit — the oracle of the Spark linking
    operator's output, row for row and bit for bit."""
    from graph4code_spark.analyzer import good_match

    return [
        (d["url"], d["question_id"], name, etype, score,
         good_match(d["content"].lower(), qualified), rel)
        for _, name, etype, qualified, hits in _entity_searches(docs, records, cap)
        for rel, score, d in hits
    ]


def forum_pipeline_quads(pages_rows, records, forum_prefix) -> set[Quad]:
    """Straight-line simulation of the whole webtext path: parse each page,
    run the per-entity search + cap + good_match loop
    (`utils.py:253-343,573-592`), emit with `forum_quads`.  The golden
    oracle for the Spark pipeline (tests and the forum oracles in
    `__spark_entry__.py`)."""
    from graph4code_spark.analyzer import good_match
    from graph4code_spark.reference_impl.qa_oracle import (
        oracle_parse_qa_page as parse_qa_page,
    )

    docs = []
    for r in pages_rows:
        html = r["html"]
        if isinstance(html, (bytes, bytearray)):
            html = html.decode("utf-8")
        rec = parse_qa_page(r["url"], html)
        if rec:
            docs.append(rec)

    out: set[Quad] = set()
    for rec, _, _, qualified, hits in _entity_searches(docs, records, 5000):
        matches = []
        for _, _, d in hits:
            matches.append(
                {
                    "question_id": d["question_id"],
                    "title": d["title"],
                    "question_text": d["q_body"],
                    "tags": d["tags"],
                    "good_match": "True" if good_match(d["content"].lower(), qualified) else "False",
                    "answers": [
                        (a[0], None, None, None, None, a[1], None, a[2])
                        for a in d["answers"]
                    ],
                    "codes": d["codes"],
                }
            )
        out |= forum_quads(rec, matches, forum_prefix)
    return out


# ---------------------------------------------------------------------------
# E6/E7 oracle: per-node analysis quads (nodeToRDF/handleDataFlow semantics,
# `PythonTurtleAnalysisEngine.java:319-420`), flattened RDF* convention as
# documented in graph4code_spark.emitters.analysis.
# ---------------------------------------------------------------------------

_G4C_BASE = "http://purl.org/twc/graph4code/"
_SIO = PREFIXES["sio"]

AnnQuad = tuple[str, str, str, bool, int | None, str | None, str]


def _join_trailing(parts, sep):
    if parts is None:
        return None
    if len(parts) == 1:
        return parts[0]
    return sep.join(parts) + sep


def analysis_quads(node: dict) -> set[AnnQuad]:
    """All (subj,pred,obj,is_literal,arg_pos,arg_name,graph) rows for one
    analysis-node record (ANALYSIS_NODES_SCHEMA shape as a plain dict)."""
    out: set[AnnQuad] = set()
    g = node["graph_uri"]
    s = f"{_G4C_BASE}se{node['node_number']}"

    def add(p, o, lit, pos=None, name=None):
        out.add((s, p, _lex(o), lit, pos, name, g))

    path = node["path"]
    add(_SCHEMA + "about", path[-1], True)
    add(_RDFS + "label", _join_trailing(path, "."), True)
    loc = node.get("source_location")
    if loc is not None:
        import json as _json

        # Java HashMap iteration order for this key set — see
        # emitters/analysis.py (verified against all SIO_000061 literals
        # in sample_graph/example{1,2,3}.nq)
        keys = [("lastLine", "last_line"), ("firstCol", "first_col"),
                ("lastOffset", "last_offset"), ("lastCol", "last_col"),
                ("firstOffset", "first_offset"), ("url", "url"),
                ("firstLine", "first_line")]
        obj = {k: loc[v] for k, v in keys if loc.get(v) is not None}
        add(_SIO + "SIO_000061", _json.dumps(obj, separators=(",", ":")), True)
    if node.get("source_text") is not None:
        add(_SCHEMA + "text", node["source_text"], True)
    if node.get("source_lines") is not None:
        add(_G4C_BASE + "sourceLines", _join_trailing(node["source_lines"], "\n"), True)
    if node.get("normalized_label") is not None:
        add(_G4C_BASE + "normalizedLabel", node["normalized_label"], True)
    for v in node.get("value_names") or []:
        add(_G4C_BASE + "valueNames", v, True)
    if node.get("is_import"):
        add(_RDF + "type", _G4C_BASE + "Imported", False)
    for k, v in (node.get("constant_positional_args") or {}).items():
        add(_SIO + "SIO_000230", v, True, pos=int(k))
    for k, v in (node.get("constant_named_args") or {}).items():
        add(_SIO + "SIO_000230", v, True, name=k)
    for kind in ("reads", "writes"):
        pred = _G4C_BASE + ("read" if kind == "reads" else "write")
        for acc in node.get(kind) or []:
            fld = acc["field"]
            if fld.isdigit():
                add(pred, f"{_G4C_BASE}se{fld}", False, name=fld)
            else:
                add(pred, fld, True, name=fld)
    for d in node.get("immediately_precedes") or []:
        add(_SIO + "SIO_000250", f"{_G4C_BASE}se{d}", False)
    for k, dsts in (node.get("flows_to") or {}).items():
        for d in dsts:
            if k.isdigit():
                add(_G4C_BASE + "flowsTo", f"{_G4C_BASE}se{d}", False, pos=int(k))
            else:
                add(_G4C_BASE + "flowsTo", f"{_G4C_BASE}se{d}", False, name=k)
    return out
