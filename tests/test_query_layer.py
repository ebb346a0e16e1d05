"""Query layer over pipeline output, and the linking operator checked
row for row against the straight-line reference (`reference_links`)."""

from graph4code_spark.emitters.analysis import analysis_triples
from graph4code_spark.emitters.forum import forum_triples
from graph4code_spark.operators.flows import extract_flow_nodes
from graph4code_spark.operators.linking import link_entities
from graph4code_spark.plans.queries import (
    most_discussed_entities,
    next_steps_after,
    questions_about,
)
from graph4code_spark.reference_impl.emitters import reference_links
from graph4code_spark.sources.qa import extract_qa
from graph4code_spark.synth import FIXED_CATALOG, HUB_ENTITY, synth_pages
from graph4code_spark.uris import PREFIXES


def _triples(spark, n_pages=120, seed=21):
    pages = synth_pages(spark, n_pages, seed=seed)
    qa = extract_qa(pages).cache()
    links = link_entities(qa, FIXED_CATALOG)
    forum = forum_triples(links, qa, FIXED_CATALOG)
    flows = analysis_triples(extract_flow_nodes(qa, FIXED_CATALOG))
    return forum.unionByName(flows), qa


def test_query_layer_shapes(spark):
    triples, qa = _triples(spark)
    triples = triples.cache()

    qa_about = questions_about(triples, HUB_ENTITY)
    assert qa_about.count() > 0
    assert all(r.title is not None for r in qa_about.collect())

    top = most_discussed_entities(triples, k=5).collect()
    assert len(top) == 5
    py = PREFIXES["py"]
    # hub entity is planted in ~30% of pages; its class parent strictly
    # dominates it (every fit-matching page also AND-matches SVC), so the
    # hub must appear in the top 2 with the class first
    top_entities = [r["entity"] for r in top]
    assert py + HUB_ENTITY in top_entities[:2]
    assert top_entities.index(py + "sklearn.svm.SVC") < top_entities.index(py + HUB_ENTITY)

    nxt = next_steps_after(triples, "SVC", k=3).collect()
    assert len(nxt) >= 1


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_salted_cap_equals_reference(spark):
    """The salted two-phase cap keeps the reference's top 10 per entity,
    and the cap binds: the hub entity has more than 10 candidates."""
    qa = extract_qa(synth_pages(spark, 150, seed=33)).cache()
    docs = [r.asDict() for r in qa.select("url", "question_id", "content").collect()]
    got = _rows(link_entities(qa, FIXED_CATALOG, cap=10))
    assert got == sorted(reference_links(docs, FIXED_CATALOG, cap=10))
    assert sum(r[2] == HUB_ENTITY for r in got) == 10
    uncapped = reference_links(docs, FIXED_CATALOG, cap=len(docs))
    assert sum(r[2] == HUB_ENTITY for r in uncapped) > 10
    qa.unpersist()


def test_debug_posts_values_count_and_phrase_filter(spark):
    """debug_stackoverflow.sparql semantics on a handcrafted quad set:
    hit-count per question over the VALUES list, answers filtered by
    phrase, questions without matching answers absent."""
    from graph4code_spark.plans.queries import debug_posts
    from graph4code_spark.schemas import TRIPLES_SCHEMA
    from graph4code_spark.uris import PREFIXES

    S, SIOC, RDF, PY = (PREFIXES["schema"], PREFIXES["sioc"],
                        PREFIXES["rdf"], PREFIXES["py"])
    g = "http://f/"
    rows = []

    def q(s, p, o, lit=False):
        rows.append((s, p, o, lit, None, None, g))

    for qid, ents in [("q1", ["e1", "e2"]), ("q2", ["e1"]), ("q3", ["zz"])]:
        q(qid := g + qid, RDF + "type", S + "Question")
        for e in ents:
            q(qid, S + "about", PY + e)
        q(qid, S + "name", f"title {qid}", True)
        q(qid, SIOC + "content", f"body {qid}", True)
    for aid, parent, body in [
        ("a1", g + "q1", "has the phrase inside"),
        ("a2", g + "q1", "no match here"),
        ("a3", g + "q2", "phrase again"),
        ("a4", g + "q3", "phrase but q3 not in VALUES"),
    ]:
        q(parent, S + "suggestedAnswer", g + "a/" + aid)
        q(g + "a/" + aid, RDF + "type", S + "Answer")
        q(g + "a/" + aid, SIOC + "content", body, True)

    tri = spark.createDataFrame(rows, TRIPLES_SCHEMA)
    out = [(r.q, r.a_content, r.c)
           for r in debug_posts(tri, ["e1", "e2"], "phrase").collect()]
    assert set(out) == {
        (g + "q1", "has the phrase inside", 2),  # two VALUES hits
        (g + "q2", "phrase again", 1),
    }
    # ordered by count desc
    assert out[0][2] == 2

    # find_stack_overflow_posts.sparql = same pattern, NO phrase filter:
    # every suggested answer of a VALUES-matched question comes back
    from graph4code_spark.plans.queries import find_so_posts

    all_out = [(r.q, r.a_content, r.c)
               for r in find_so_posts(tri, ["e1", "e2"]).collect()]
    assert set(all_out) == {
        (g + "q1", "has the phrase inside", 2),
        (g + "q1", "no match here", 2),
        (g + "q2", "phrase again", 1),
    }
    assert all_out[0][2] == 2


def test_class_names_reflexive_even_with_outgoing_edges(spark):
    """SPARQL `subClassOf*` is reflexive: a BASE class that itself has
    outgoing subClassOf edges must still match through the zero-length
    path (ADVICE r2: the old `+`-only closure silently excluded it)."""
    from graph4code_spark.plans.queries import classifier_class_names

    py = PREFIXES["py"]
    rdfs = PREFIXES["rdfs"]
    rows = [
        # A ⊑ Base ⊑ Mixin: Base has an OUTGOING edge
        (py + "m.A", rdfs + "subClassOf", py + "m.Base", False, None, None, "g1"),
        (py + "m.Base", rdfs + "subClassOf", py + "m.Mixin", False, None, None, "g1"),
        (py + "m.A", rdfs + "label", "m.A.", True, None, None, "g1"),
        (py + "m.Base", rdfs + "label", "m.Base.", True, None, None, "g1"),
        (py + "m.Mixin", rdfs + "label", "m.Mixin.", True, None, None, "g1"),
    ]
    triples = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, is_literal boolean, "
        "arg_pos string, arg_name string, graph string",
    )
    got = {r["name"] for r in classifier_class_names(triples, "m.Base").collect()}
    assert got == {"m.A.", "m.Base."}


def test_cap_orders_by_bm25_not_tf(spark):
    """Hub fixture where BM25 and a tf-sum ordering disagree on the cap
    cut (VERDICT r3): doc A repeats the entity's COMMON token (high
    tf-sum, low idf) while doc B carries extra hits on the RARE token
    (lower tf-sum, higher idf weight).  ES's `most_fields` 5000-hit
    window keeps B; a tf ordering would keep A."""
    cat = [{"module": "zlib", "klass": None, "function": "zlib.rareword"}]
    rows = [
        ("u://a", "1", "zlib zlib zlib zlib zlib rareword"),
        ("u://b", "2", "zlib rareword rareword"),
    ] + [(f"u://f{i}", str(i + 3), "zlib") for i in range(20)]
    qa = spark.createDataFrame(
        rows, "url string, question_id string, content string"
    )
    kept = [r["url"] for r in link_entities(qa, cat, cap=1).collect()]
    assert kept == ["u://b"]
    # proof this fixture separates the two orderings: A has the higher
    # tf sum
    tf = {r["url"]: r["score"] for r in link_entities(qa, cat).collect()}
    assert tf == {"u://a": 6, "u://b": 3}


def test_cross_graph_node_reuse_stress(spark):
    """VERDICT r3 #7: the same `se<n>` node URIs repeated across 120
    graphs with CONFLICTING labels/args/about-values.  Every node-level
    join in the usage queries must key on (node, graph); joining on the
    URI alone would cross-wire the even-graph ClsA facts with the
    odd-graph ClsB facts."""
    from graph4code_spark.plans.queries import (
        fit_predict_pairs,
        hyperparameter_distributions,
        single_model_fits,
    )
    from graph4code_spark.uris import PREFIXES

    py, rdfs, schema, sio = (
        PREFIXES["py"], PREFIXES["rdfs"], PREFIXES["schema"], PREFIXES["sio"]
    )
    flows = "http://purl.org/twc/graph4code/flowsTo"
    mixin = py + "sklearn.base.ClassifierMixin"
    doc_g = "http://docs"
    rows = [
        (py + "modA.ClsA", rdfs + "subClassOf", mixin, False, None, None, doc_g),
        (py + "modB.ClsB", rdfs + "subClassOf", mixin, False, None, None, doc_g),
        (py + "modA.ClsA", rdfs + "label", "modA.ClsA", True, None, None, doc_g),
        (py + "modB.ClsB", rdfs + "label", "modB.ClsB", True, None, None, doc_g),
        (mixin, rdfs + "label", "sklearn.base.ClassifierMixin", True, None, None, doc_g),
    ]
    loc = '{"firstLine": 3, "lastLine": 3}'
    for i in range(120):
        g = f"http://g/{i}"
        if i % 2 == 0:  # ClsA ctor feeding a fit call
            rows += [
                ("se1", rdfs + "label", "modA.ClsA.", True, None, None, g),
                ("se1", sio + "SIO_000230", "1", True, None, "k", g),
                ("se1", flows, "se2", False, 0, None, g),
                ("se2", schema + "about", "fit", True, None, None, g),
                ("se2", schema + "text", "m.fit(x)", True, None, None, g),
                ("se2", sio + "SIO_000061", loc, True, None, None, g),
            ]
        else:  # SAME node URIs, conflicting facts: ClsB feeding predict
            rows += [
                ("se1", rdfs + "label", "modB.ClsB.", True, None, None, g),
                ("se1", sio + "SIO_000230", "2", True, None, "k", g),
                ("se1", flows, "se2", False, 0, None, g),
                ("se2", schema + "about", "predict", True, None, None, g),
            ]
    tri = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, is_literal boolean, "
        "arg_pos int, arg_name string, graph string",
    )

    dist = {
        (r["name"], r["param"], r["value"]): r["n"]
        for r in hyperparameter_distributions(tri, "sklearn.base.ClassifierMixin").collect()
    }
    assert dist == {("modA.ClsA", "k", "1"): 60, ("modB.ClsB", "k", "2"): 60}

    fits = single_model_fits(tri, "sklearn.base.ClassifierMixin").collect()
    assert len(fits) == 60
    assert {r["cls_name"] for r in fits} == {"modA.ClsA"}
    assert {r["graph"] for r in fits} == {f"http://g/{i}" for i in range(0, 120, 2)}

    # no graph contains BOTH a fit and a predict — any row here means a
    # cross-graph wire
    assert fit_predict_pairs(tri, "sklearn.base.ClassifierMixin").count() == 0


#: Spark jobs one ``link_entities`` call and the write of its output may
#: submit on a 40-page stage input: it measures 4 on local[4] (the scan
#: checkpoint, the two-stage stats aggregate, the write).  Running the
#: cap when no entity exceeds it adds the window shuffle: 6.
MAX_LINK_JOBS = 5


def test_link_entities_job_count(spark, tmp_path):
    qa_dir, out_dir = str(tmp_path / "qa"), str(tmp_path / "links")
    extract_qa(synth_pages(spark, 40, seed=12)).write.parquet(qa_dir)
    qa = spark.read.parquet(qa_dir)
    sc = spark.sparkContext
    group = "test_link_entities_job_count"
    sc.setJobGroup(group, group)
    try:
        link_entities(qa, FIXED_CATALOG).write.parquet(out_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= MAX_LINK_JOBS, n_jobs
    assert spark.read.parquet(out_dir).count() > 0


def test_link_entities_equals_reference_links(spark, monkeypatch):
    """`link_entities` is row-for-row AND bit-for-bit (bm25 doubles
    included) identical to the straight-line `reference_links`, capped
    and uncapped — randomized content with case-change/digit token
    boundaries, hub skew, and short docs."""
    import random

    from graph4code_spark.operators import linking

    rng = random.Random(1234)
    cat = [
        {"module": "pandas", "klass": None, "function": "pandas.read_csv"},
        {"module": "sklearn", "klass": "LinearSVC", "function": "fit"},
        {"module": "numpy", "klass": None, "function": "numpy.argmax"},
        {"module": "zlib", "klass": None, "function": "zlib"},
    ]
    words = ["pandas", "read_csv", "readCsv", "LinearSVC", "fit", "misfit",
             "numpy", "argmax", "zlib", "x2go", "CSVFile", "the", "a", "b2b"]
    rows_in = []
    for i in range(120):
        n = rng.randint(0, 40)
        rows_in.append((f"u://{i}", str(i), " ".join(rng.choice(words) for _ in range(n))))
    qa = spark.createDataFrame(rows_in, "url string, question_id string, content string")
    docs = [{"url": u, "question_id": q, "content": c} for u, q, c in rows_in]

    capped = []
    cap_per_entity = linking.cap_per_entity

    def spy(links, cap):
        capped.append(cap)
        return cap_per_entity(links, cap)

    monkeypatch.setattr(linking, "cap_per_entity", spy)
    # some entity has more than 7 candidates: the cap must run
    got = _rows(link_entities(qa, cat, cap=7))
    assert capped == [7]
    assert got == sorted(reference_links(docs, cat, cap=7))  # exact: float bits

    # no entity exceeds the cap (one candidate per page at most): the
    # cap is skipped and every candidate kept
    uncapped = _rows(link_entities(qa, cat, cap=len(rows_in)))
    assert capped == [7]
    assert uncapped == sorted(reference_links(docs, cat, cap=len(rows_in)))
    assert len(uncapped) > len(got)
