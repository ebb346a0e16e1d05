"""Query layer: the reference's SPARQL usage queries restated as Spark
SQL/DataFrame self-joins over the quad table.

Shapes covered (SURVEY.md §3.4):
- label lookup + optional param/return expansion
  (`/root/reference/docs/example_queries.md:5-14`) → left outer joins
- `schema:about` semi-join + group-count + ordering
  (`docs/example_queries.md:19-45`) → questions-about / most-discussed
- `flowsTo+` transitive closure + top-k next step
  (`usage_queries/find_next_step.sparql:11-30`) → closure + rank
- SPARQL `minus` / `filter not exists`
  (`usage_queries/find_similar_flows.sparql:37-39`,
  `must_not_set_hyperparameters.sparql:40-44`) → a label filter in
  `similar_flows`, a (node, graph)-keyed anti-join in
  `hyperparam_violations`
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph4code_spark.operators.closure import flows_to_edges, transitive_closure
from graph4code_spark.session import local_df
from graph4code_spark.uris import PREFIXES

_RDFS_LABEL = PREFIXES["rdfs"] + "label"
_SUBCLASS = PREFIXES["rdfs"] + "subClassOf"
_ABOUT = PREFIXES["schema"] + "about"
_TEXT = PREFIXES["schema"] + "text"
_PY = PREFIXES["py"]
# flowsTo lives under the BASE purl namespace, not /ontology/
_FLOWS_TO = "http://purl.org/twc/graph4code/flowsTo"


def _pred(triples: DataFrame, p: str) -> DataFrame:
    # partition pruning: the quad table is partitioned by pred_name, so a
    # single-predicate filter reads exactly one directory
    return triples.where(F.col("pred") == p)


def _leg(triples: DataFrame, p: str, subj: str, obj: str, *cols: str) -> DataFrame:
    """One predicate's (subj, obj) pairs under the names a join needs,
    plus ``cols`` of the quad (``"graph"`` for a node-level leg)."""
    return _pred(triples, p).select(
        F.col("subj").alias(subj), F.col("obj").alias(obj), *cols
    )


def _labels(triples: DataFrame, node: str = "node", lbl: str = "lbl") -> DataFrame:
    """(node, lbl, graph) rdfs:label leg.  Analysis node URIs (se<n>)
    repeat across graphs, so every node-level join on it is keyed
    (node, graph) — joining on the URI alone would cross-wire graphs."""
    return _leg(triples, _RDFS_LABEL, node, lbl, "graph")


def _ctor_nodes(triples: DataFrame, names: DataFrame, node: str = "node") -> DataFrame:
    """(node, graph, name): constructor-call nodes of the classes in
    ``names`` (tiny → broadcast).  The reference's trailing-separator
    label quirk makes a multi-part analysis label the class name + '.'."""
    labels = _labels(triples, node)
    return labels.join(
        F.broadcast(names), labels["lbl"] == F.concat(names["name"], F.lit("."))
    ).select(node, "graph", "name")


def _calls(triples: DataFrame, method: str, node: str = "node") -> DataFrame:
    """(node, graph) of the calls that are ``schema:about`` ``method``."""
    return _pred(triples, _ABOUT).where(F.col("obj") == method).select(
        F.col("subj").alias(node), "graph"
    ).distinct()


def _receiver_edges(triples: DataFrame, src: str, dst: str) -> DataFrame:
    """(src, dst, graph) where src's value is the receiver of call dst.
    The reference's RDF* receiver linkage (?src flowsTo/flowsTo ?dst
    through an anonymous input at ordinal 0) is the flattened quad
    table's ``flowsTo`` row with ``arg_pos = 0``."""
    return (
        triples.where((F.col("pred") == _FLOWS_TO) & (F.col("arg_pos") == 0))
        .select(F.col("subj").alias(src), F.col("obj").alias(dst), "graph")
        .distinct()
    )


def _lines(
    triples: DataFrame, node: str, l1: str = "firstLine", l2: str = "lastLine"
) -> DataFrame:
    """(node, graph, l1, l2): the JSON fields ``l1``/``l2`` of a node's
    SIO_000061 location literal, pulled with `get_json_object`
    (JVM-side)."""
    return _pred(triples, PREFIXES["sio"] + "SIO_000061").select(
        F.col("subj").alias(node), "graph",
        F.get_json_object("obj", f"$.{l1}").cast("long").alias("l1"),
        F.get_json_object("obj", f"$.{l2}").cast("long").alias("l2"),
    ).distinct()


def questions_about(triples: DataFrame, entity_name: str) -> DataFrame:
    """`docs/example_queries.md:19-45`: questions about one entity with
    their titles."""
    about = _pred(triples, _ABOUT).where(F.col("obj") == _PY + entity_name)
    names = _leg(triples, PREFIXES["schema"] + "name", "q", "title")
    return (
        about.select(F.col("subj").alias("q"))
        .join(names, "q", "left")
        .select("q", "title")
    )


def most_discussed_entities(triples: DataFrame, k: int = 10) -> DataFrame:
    """group-count over schema:about, top-k."""
    return (
        _pred(triples, _ABOUT)
        .groupBy(F.col("obj").alias("entity"))
        .agg(F.countDistinct("subj").alias("n_questions"))
        .orderBy(F.desc("n_questions"), F.asc("entity"))
        .limit(k)
    )


def entity_params(triples: DataFrame, entity_name: str) -> DataFrame:
    """label + optional params (`example_queries.md:5-14`): left outer."""
    ent = F.lit(_PY + entity_name)
    params = _pred(triples, PREFIXES["graph4code"] + "param").where(
        F.col("subj") == ent
    ).select(F.col("obj").alias("param_uri"))
    labels = _leg(triples, _RDFS_LABEL, "param_uri", "param_label")
    idx = _pred(triples, PREFIXES["graph4code"] + "param_index").select(
        F.col("subj").alias("param_uri"), F.col("obj").cast("int").alias("param_index")
    )
    return (
        params.join(labels, "param_uri", "left")
        .join(idx, "param_uri", "left")
        .orderBy("param_index", "param_label")
    )


def next_steps_after(triples: DataFrame, entity_suffix: str, k: int = 3) -> DataFrame:
    """`find_next_step.sparql`: from nodes labeled with the given API,
    follow flowsTo+ and rank the most common downstream labels.

    The query binds the path's START (`find_next_step.sparql:22-27` binds
    ?n1 through its label), so the closure is seeded FORWARD from the
    labeled nodes — graphs without a matching label contribute no join
    work and the reachability relation is only materialized from the
    bound endpoints."""
    starts = _labels(triples).where(F.col("lbl").contains(entity_suffix))
    reached = transitive_closure(
        flows_to_edges(triples),
        seeds=starts.select("node", "graph"),
        direction="forward",
    )
    return (
        reached.join(_labels(triples, "dst", "next_label"), ["dst", "graph"])
        .groupBy("next_label")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("next_label"))
        .limit(k)
    )


def debug_posts(
    triples: DataFrame, entity_names: list[str], phrase: str | None
) -> DataFrame:
    """`usage_queries/debug_stackoverflow.sparql`: questions about a
    VALUES list of entities, scored by hit count, joined to their
    title/content and to suggested answers whose content contains a
    phrase, ordered by score.

    Restated as per-predicate self-joins over the quad table (each
    single-predicate filter prunes to one (pred_name) partition):

    - VALUES + `schema:about` semi-join + group-count → ?c per ?q
    - rdf:type Question / schema:name / sioc:content on the question
    - schema:suggestedAnswer → rdf:type Answer → sioc:content with a
      `contains` filter (SPARQL `filter(contains(...))`)

    The VALUES side is a tiny broadcast; the only wide op is the per-?q
    count. sioc:content serves both questions and answers, so each use
    is disambiguated through the rdf:type set, as the graph pattern does.
    """
    spark = triples.sparkSession
    schema_p = PREFIXES["schema"]
    sioc_p = PREFIXES["sioc"]
    rdf_type = PREFIXES["rdf"] + "type"

    vals = local_df(spark, [(_PY + n,) for n in entity_names], "f string")
    qtype = (
        _pred(triples, rdf_type).where(F.col("obj") == schema_p + "Question")
        .select(F.col("subj").alias("q")).distinct()
    )
    atype = (
        _pred(triples, rdf_type).where(F.col("obj") == schema_p + "Answer")
        .select(F.col("subj").alias("a")).distinct()
    )
    about = _leg(triples, _ABOUT, "q", "f").distinct()
    counts = (
        about.join(F.broadcast(vals), "f")
        .join(qtype, "q")
        .groupBy("q")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    name = _leg(triples, schema_p + "name", "q", "t").distinct()
    content = _pred(triples, sioc_p + "content")
    q_content = content.join(qtype, content["subj"] == qtype["q"]).select(
        "q", F.col("obj").alias("q_content")
    ).distinct()
    a_content = content.join(atype, content["subj"] == atype["a"])
    if phrase is not None:
        a_content = a_content.where(F.col("obj").contains(phrase))
    a_content = a_content.select("a", F.col("obj").alias("a_content")).distinct()
    sugg = _leg(triples, schema_p + "suggestedAnswer", "q", "a").distinct()
    return (
        counts.join(name, "q")
        .join(q_content, "q")
        .join(sugg, "q")
        .join(a_content, "a")
        .select("q", "t", "q_content", "a_content", F.col("c").cast("long").alias("c"))
        .orderBy(F.desc("c"), F.asc("q"), F.asc("a_content"))
    )


def find_so_posts(triples: DataFrame, entity_names: list[str]) -> DataFrame:
    """`usage_queries/find_stack_overflow_posts.sparql:31-55`: given a
    calling context (?f bound through VALUES — the reference binds
    `python:sklearn.model_selection.train_test_split` and
    `python:sklearn.svm.SVC.fit`), score each Question by how many of
    the context functions it is `schema:about`, then attach its title,
    content and every suggested Answer's content, ordered by score.

    Same graph pattern as `debug_stackoverflow.sparql` MINUS the
    answer-phrase filter (the reference file mentions the phrase check in
    a comment but its `where` block applies none), so the restatement
    delegates to :func:`debug_posts` with ``phrase=None``."""
    return debug_posts(triples, entity_names, phrase=None)


def hyperparameter_distributions(
    triples: DataFrame, base_class: str
) -> DataFrame:
    """`usage_queries/find_hyperparameter_distributions.sparql` (honest
    subset): the CROSS-GRAPH join — classes reaching ``base_class`` via
    ``rdfs:subClassOf*`` in the DOCSTRINGS graph, matched against
    constructor-call nodes in the ANALYSIS graphs by label (the
    reference's trailing-separator label quirk: a multi-part analysis
    label is the class name + '.'), then their constant NAMED arguments
    (sio:SIO_000230 with a name annotation — positional args are ignored,
    as the reference query's comment says) aggregated into a per-(class,
    param, value) distribution.

    ``subClassOf*`` is the semi-naive closure operator reused from
    flowsTo+; the class list is tiny → broadcast into the label match."""
    ctor_nodes = _ctor_nodes(triples, classifier_class_names(triples, base_class))
    named = (
        _pred(triples, PREFIXES["sio"] + "SIO_000230")
        .where(F.col("arg_name").isNotNull())
        .select(
            F.col("subj").alias("node"),
            "graph",
            F.col("arg_name").alias("param"),
            F.col("obj").alias("value"),
        )
    )
    return (
        ctor_nodes.join(named, ["node", "graph"])
        .groupBy("name", "param", "value")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "name", "param", "value")
    )


def classifier_class_names(triples: DataFrame, *base_classes: str) -> DataFrame:
    """(name) of every class reaching ANY of ``base_classes`` via
    rdfs:subClassOf* in the docstrings graph — the shared leg of the
    cross-graph usage queries.  ONE backward-seeded closure with the
    union of the bases as the seed frontier, instead of one full closure
    per base (the UNION leg of `must_not_set_hyperparameters.sparql:14-22`
    names two mixins; iterating the same edge set twice doubles the
    shuffle rounds for no information).

    SPARQL ``*`` is REFLEXIVE: each base class itself matches through
    the zero-length path, so the bases are unioned in alongside the
    ``+`` closure (which is seeded BACKWARD from the bases — only chains
    that actually reach one are materialized)."""
    base_uris = [_PY + b for b in base_classes]
    sub = _leg(triples, _SUBCLASS, "src", "dst", "graph").distinct()
    seeds = (
        sub.select("graph").distinct()
        .select(
            F.explode(F.array(*[F.lit(u) for u in base_uris])).alias("node"),
            "graph",
        )
    )
    classes = (
        transitive_closure(sub, seeds=seeds, direction="backward")
        .where(F.col("dst").isin(base_uris))
        .select(F.col("src").alias("cls"))
        .union(
            local_df(sub.sparkSession, [(u,) for u in base_uris], "cls string")
        )
        .distinct()
    )
    labels = _leg(triples, _RDFS_LABEL, "cls", "name")
    return classes.join(labels, "cls").select("name").distinct()


def single_model_fits(triples: DataFrame, base_class: str) -> DataFrame:
    """`usage_queries/ensure_multiple_models.sparql` violation finder
    (honest subset, minus the read_csv leg the corpus cannot bind): fit
    calls (``schema:about "fit"``) whose flowsTo+ predecessors include
    EXACTLY ONE distinct classifier class — the filter-not-exists
    "?cls1 != ?cls2" pattern becomes a per-fit distinct count == 1.
    Location lines come from the SIO_000061 JSON literal, matching
    ?l1/?l2/?txt in the query."""
    fits = _calls(triples, "fit", "fit")
    # the query binds the path's END (the fit call), so seed the closure
    # BACKWARD from the fit nodes: only graphs containing a fit node are
    # iterated, and only (predecessor → fit) pairs are materialized
    closure = transitive_closure(
        flows_to_edges(triples),
        seeds=fits.select(F.col("fit").alias("node"), "graph"),
        direction="backward",
    )
    preds = closure.select(
        F.col("src").alias("pred"), F.col("dst").alias("fit"), "graph"
    ).join(fits, ["fit", "graph"])
    names = classifier_class_names(triples, base_class)
    cls_preds = preds.join(_ctor_nodes(triples, names, "pred"), ["pred", "graph"])
    single = (
        cls_preds.groupBy("fit", "graph")
        .agg(F.count_distinct("name").alias("n_models"), F.min("name").alias("cls_name"))
        .where(F.col("n_models") == 1)
    )
    return (
        single.join(_leg(triples, _TEXT, "fit", "txt", "graph").distinct(), ["fit", "graph"])
        .join(_lines(triples, "fit"), ["fit", "graph"])
        .select("graph", "fit", "cls_name", "l1", "l2", "txt")
        .orderBy("graph", "fit")
    )


def fit_predict_pairs(triples: DataFrame, base_class: str) -> DataFrame:
    """`usage_queries/train_test_different_data.sparql` core shape
    (honest subset): one classifier-producing node whose flowsTo+
    closure reaches BOTH a ``schema:about "fit"`` call and a
    ``schema:about "predict"`` call in the same graph — the multi-way
    closure join (?pred1 flowsTo+ ?fit; ?pred1 flowsTo+ ?predict).
    Output one row per (graph, model node, fit node, predict node)."""
    # both path targets are bound (fit and predict calls) — seed the
    # closure backward from their union; graphs containing neither are
    # never touched
    closure = transitive_closure(
        flows_to_edges(triples),
        seeds=_calls(triples, "fit").unionByName(_calls(triples, "predict")),
        direction="backward",
    )
    names = classifier_class_names(triples, base_class)
    models = _ctor_nodes(triples, names, "model")

    def reaches(method):
        return closure.select(
            F.col("src").alias("model"), F.col("dst").alias(method), "graph"
        ).join(_calls(triples, method, method), [method, "graph"])

    return (
        models.join(reaches("fit"), ["model", "graph"])
        .join(reaches("predict"), ["model", "graph"])
        .select("graph", "model", "name", "fit", "predict")
        .orderBy("graph", "model", "fit", "predict")
    )


def type_inference(triples: DataFrame) -> DataFrame:
    """`usage_queries/type_inference.sparql:15-46` restated: duck-typed
    receiver-type inference.

    The reference's RDF* receiver linkage (?n1 flowsTo/flowsTo ?n2 with
    an anonymous input node at ordinal 0 that isSpecializationOf ?n2) is
    exactly what the flattened quad table encodes as a ``flowsTo`` row
    with ``arg_pos = 0`` — n1's value is the receiver of call n2.  Per
    flow source ?n1:

    - ``?all``  = distinct receiver-calls n2 made on n1,
    - ``?ok``   = per candidate class ?cls, the subset of those calls
      whose ``schema:about`` method name is a member of ?cls in the
      docstrings graph (the query's `name_end ⋈ dc:isPartOf` leg — the
      member edge for METHOD entities is emitted as ``g4c:classMember``,
      mirroring `create_docstrings_graph.py:315-321`),
    - ``filter(?ok = ?all)`` keeps classes supporting EVERY call (duck
      typing), then source location / label / optional text attach and
      ``?cls rdfs:subClassOf+ ?super`` fans out per superclass.

    The reference's `filter exists` import leg walks a module-dependency
    graph this corpus does not model; the honest subset checks that some
    ``dc:isPartOf*`` ancestor label of ?cls matches an ``Imported`` node
    label in the same analysis graph (softwareRequirements* admits the
    zero-length path, so the module itself is the minimal witness)."""
    g4c = PREFIXES["graph4code"]

    edges0 = _receiver_edges(triples, "n1", "n2")
    about = _leg(triples, _ABOUT, "n2", "p2", "graph").distinct()
    all_cnt = edges0.groupBy("n1", "graph").agg(
        F.count_distinct("n2").alias("n_all")
    )

    # docstrings leg: method tail → owning class (tiny → broadcast)
    name_end = _leg(triples, g4c + "name_end", "m", "p2")
    member = _leg(triples, g4c + "classMember", "m", "cls")
    methods = name_end.join(member, "m").select("p2", "cls").distinct()

    ok_cnt = (
        edges0.join(about, ["n2", "graph"])
        .join(F.broadcast(methods), "p2")
        .groupBy("n1", "graph", "cls")
        .agg(F.count_distinct("n2").alias("n_ok"))
    )
    cand = ok_cnt.join(all_cnt, ["n1", "graph"]).where(
        F.col("n_ok") == F.col("n_all")
    ).select("n1", "graph", "cls")

    # honest import-exists subset: an isPartOf* ancestor label of cls
    # appears as an Imported node label in the same analysis graph
    imported = _pred(triples, PREFIXES["rdf"] + "type").where(
        F.col("obj") == "http://purl.org/twc/graph4code/Imported"
    ).select(F.col("subj").alias("node"), "graph")
    imp_labels = imported.join(_labels(triples), ["node", "graph"]).select(
        "graph", F.col("lbl").alias("anc_lbl")
    ).distinct()

    ipo = _leg(triples, PREFIXES["dcterms"] + "isPartOf", "src", "dst", "graph").distinct()
    anc = transitive_closure(ipo).select(
        F.col("src").alias("cls"), F.col("dst").alias("anc")
    )
    anc = anc.unionByName(
        cand.select("cls").distinct().withColumn("anc", F.col("cls"))
    )
    cls_labels = _leg(triples, _RDFS_LABEL, "anc", "anc_lbl").distinct()
    anc_lbls = anc.join(cls_labels, "anc").select("cls", "anc_lbl").distinct()
    cand = cand.join(F.broadcast(anc_lbls), "cls").join(
        imp_labels, ["graph", "anc_lbl"], "left_semi"
    ).select("n1", "graph", "cls").distinct()

    super_pairs = (
        transitive_closure(_leg(triples, _SUBCLASS, "src", "dst", "graph").distinct())
        .select(F.col("src").alias("cls"), F.col("dst").alias("super"))
        .distinct()
    )
    return (
        cand.join(_labels(triples, "n1", "label").distinct(), ["n1", "graph"])
        # the SPARQL binds ?l1 to lastLine and ?l2 to firstLine
        .join(_lines(triples, "n1", "lastLine", "firstLine"), ["n1", "graph"])
        .join(_leg(triples, _TEXT, "n1", "txt", "graph").distinct(), ["n1", "graph"], "left")
        .join(F.broadcast(super_pairs), "cls")
        .select("graph", "n1", "label", "cls", "super", "l1", "l2", "txt")
        .orderBy("graph", "n1", "cls", "super")
    )


def hyperparam_violations(
    triples: DataFrame,
    bases: tuple[str, ...] = (
        "sklearn.base.ClassifierMixin",
        "sklearn.base.RegressorMixin",
    ),
    optimizer_label: str = "hyperopt.fmin",
) -> DataFrame:
    """`usage_queries/must_not_set_hyperparameters.sparql` restated:
    constructor calls of any ClassifierMixin/RegressorMixin subclass
    (the UNION leg, `:14-22`) that receive explicit hyper-parameter
    constants, excluding constructors fed by a hyper-parameter optimizer
    (the `filter not exists` leg, `:40-44`).

    Restatement decisions (documented, both sides agree):
    - the reference's anon-node constant-arg pattern (SIO_000230 +
      SIO_000613 ordinal ?v > 0) is the flattened SIO_000230 row with
      ``arg_pos > 0`` OR ``arg_name`` set — a named constant is by
      definition not the position-0 receiver, so it is a passed
      hyper-parameter the same way;
    - constructor labels carry the reference's trailing-separator quirk
      (multi-part label = name + '.'), same as
      `hyperparameter_distributions`;
    - the optimizer match uses the quirked label
      ``optimizer_label + '.'`` and the exclusion is a seeded FORWARD
      closure from optimizer nodes anti-joined against the candidates.
    Output: one row per violating constructor with the count of constant
    hyper-parameters."""
    ctor_nodes = _ctor_nodes(triples, classifier_class_names(triples, *bases))
    consts = (
        _pred(triples, PREFIXES["sio"] + "SIO_000230")
        .where((F.col("arg_pos") > 0) | F.col("arg_name").isNotNull())
        .select(F.col("subj").alias("node"), "graph")
    )
    n_hyper = consts.groupBy("node", "graph").agg(
        F.count(F.lit(1)).alias("n_hyper")
    )

    opt_nodes = _labels(triples).where(F.col("lbl") == optimizer_label + ".").select(
        "node", "graph"
    )
    optimized = transitive_closure(
        flows_to_edges(triples), seeds=opt_nodes, direction="forward"
    ).select(F.col("dst").alias("node"), "graph").distinct()
    return (
        ctor_nodes.join(n_hyper, ["node", "graph"])
        .join(optimized, ["node", "graph"], "left_anti")
        .join(_lines(triples, "node", "lastLine", "firstLine"), ["node", "graph"])
        .join(_leg(triples, _TEXT, "node", "txt", "graph").distinct(), ["node", "graph"])
        .select(
            "graph", F.col("node").alias("clf"), "name",
            F.col("n_hyper").cast("long").alias("n_hyper"), "l1", "l2", "txt",
        )
        .orderBy("graph", "clf")
    )


def similar_flows(
    triples: DataFrame,
    anchor: str = "sklearn.ensemble.RandomForestClassifier",
    read_label: str = "pandas.read_csv",
) -> DataFrame:
    """`usage_queries/find_similar_flows.sparql:11-39` end-to-end: in
    graphs where ``read_label`` data flows (flowsTo+) into a fit call
    whose receiver constructor is the ANCHOR classifier, find which OTHER
    classifiers are fit from the same source, counted per classifier.

    Restatements (both sides agree):
    - the receiver linkage (?classifier flowsTo/flowsTo ?fit + anon
      ordinal-0 isSpecializationOf) is the flattened ``flowsTo`` row with
      ``arg_pos = 0``;
    - analysis labels carry the trailing-separator quirk, stripped in the
      output column (`?classifierName`);
    - SPARQL ``count(?g)`` (which would count join multiplicities over
      fit1/fit2 bindings) is restated as count(DISTINCT ?g) — "in how
      many graphs does this similar flow occur";
    - the flowsTo+ legs are one closure seeded FORWARD from the
      read-labeled nodes, so graphs without the read call are never
      iterated (the `minus` leg is a plain label filter)."""
    reads = _labels(triples).where(F.col("lbl") == read_label + ".").select("node", "graph")
    closure = transitive_closure(
        flows_to_edges(triples), seeds=reads, direction="forward"
    )
    read_to_fit = (
        closure.select(F.col("dst").alias("fit"), "graph")
        .join(_calls(triples, "fit", "fit"), ["fit", "graph"])
        .distinct()
    )
    ctor_of_fit = _receiver_edges(triples, "ctor", "fit").join(
        _labels(triples, "ctor"), ["ctor", "graph"]
    ).select("fit", "graph", "lbl")
    fed = read_to_fit.join(ctor_of_fit, ["fit", "graph"])
    anchored_graphs = fed.where(F.col("lbl") == anchor + ".").select("graph").distinct()
    others = fed.where(F.col("lbl") != anchor + ".").select(
        "graph", F.regexp_replace("lbl", r"\.$", "").alias("classifierName")
    )
    return (
        others.join(anchored_graphs, "graph", "left_semi")
        .groupBy("classifierName")
        .agg(F.count_distinct("graph").alias("c"))
        .orderBy(F.desc("c"), F.asc("classifierName"))
    )
