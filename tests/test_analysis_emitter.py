"""E6/E7 emitter parity vs the straight-line oracle, plus the code-block
flow extractor."""

from graph4code_spark.emitters.analysis import analysis_triples
from graph4code_spark.operators.flows import extract_flow_nodes
from graph4code_spark.reference_impl.emitters import analysis_quads
from graph4code_spark.schemas import ANALYSIS_NODES_SCHEMA
from graph4code_spark.sources.qa import extract_qa
from graph4code_spark.synth import FIXED_CATALOG, synth_pages

G4C = "http://purl.org/twc/graph4code/"

FIXTURE = [
    {
        "graph_uri": "http://github.example/test/test",
        "node_number": 85,
        "path": ["pandas", "read_csv", "columns"],
        "path_end": "columns",
        "normalized_label": "pandas.core.frame.DataFrame.columns",
        "is_import": False,
        "is_slice": False,
        "flows_to": {"0": [88, 89], "kernel": [90]},
        "immediately_precedes": [88],
        "reads": [{"container": [80], "field": "svm"}, {"container": [81], "field": "91"}],
        "writes": [],
        "constant_positional_args": {"1": "rbf"},
        "constant_named_args": {"kernel": "rbf"},
        "value_names": ["X", "y"],
        "source_location": {
            "first_line": 8, "last_line": 8, "first_col": 9, "last_col": 43,
            "first_offset": 205, "last_offset": 239, "url": "file:/tmp/e1.py",
        },
        "source_text": "data.columns[:len(data.columns)-1]",
        "source_lines": ["X = data[data.columns]", "y = other"],
    },
    {
        "graph_uri": "http://github.example/test/test",
        "node_number": 64,
        "path": ["clear"],
        "path_end": "clear",
        "normalized_label": "clear",
        "is_import": True,
        "is_slice": False,
        "flows_to": {},
        "immediately_precedes": [65],
        "reads": [],
        "writes": [],
        "constant_positional_args": {},
        "constant_named_args": {},
        "value_names": [],
        "source_location": None,
        "source_text": None,
        "source_lines": None,
    },
    {
        # every map, array and optional label null: only the head quads
        "graph_uri": "http://github.example/test/test",
        "node_number": 70,
        "path": ["numpy", "zeros"],
        "path_end": "zeros",
        "normalized_label": None,
        "is_import": None,
        "is_slice": None,
        "flows_to": None,
        "immediately_precedes": None,
        "reads": None,
        "writes": None,
        "constant_positional_args": None,
        "constant_named_args": None,
        "value_names": None,
        "source_location": None,
        "source_text": None,
        "source_lines": None,
    },
]


def _row(d):
    return tuple(d[f.name] for f in ANALYSIS_NODES_SCHEMA.fields)


def test_analysis_emitter_parity(spark):
    df = spark.createDataFrame([_row(d) for d in FIXTURE], ANALYSIS_NODES_SCHEMA)
    got = {
        (r.subj, r.pred, r.obj, r.is_literal, r.arg_pos, r.arg_name, r.graph)
        for r in analysis_triples(df).collect()
    }
    want = set()
    for node in FIXTURE:
        want |= analysis_quads(node)
    assert got == want
    # reference join bug: trailing separator for multi-element paths
    assert (f"{G4C}se85", "http://www.w3.org/2000/01/rdf-schema#label",
            "pandas.read_csv.columns.", True, None, None,
            "http://github.example/test/test") in got
    assert (f"{G4C}se64", "http://www.w3.org/2000/01/rdf-schema#label",
            "clear", True, None, None, "http://github.example/test/test") in got
    assert len([q for q in got if q[0] == f"{G4C}se70"]) == 2


def test_flow_extraction_receiver_and_args(spark):
    code = (
        "import sklearn\n"
        "import pandas\n"
        "df = pandas.read_csv('train.csv')\n"
        "model = sklearn.svm.SVC(1, kernel='rbf')\n"
        "model.fit(df, 7)\n"
    )
    qa = spark.createDataFrame(
        [("http://q.example/1", [code])], "url string, codes array<string>"
    )
    nodes = {r["node_number"]: r.asDict(recursive=True)
             for r in extract_flow_nodes(qa, FIXED_CATALOG).collect()}
    by_path = {tuple(n["path"]): n for n in nodes.values()}

    assert by_path[("pandas",)]["is_import"]
    rc = by_path[("pandas", "read_csv")]
    assert rc["constant_positional_args"] == {"1": "train.csv"}
    assert rc["value_names"] == ["df"]
    svc = by_path[("sklearn", "svm", "SVC")]
    assert svc["constant_positional_args"] == {"1": "1"}
    assert svc["constant_named_args"] == {"kernel": "rbf"}
    fit = by_path[("sklearn", "svm", "SVC", "fit")]
    # receiver dataflow SVC -> fit at ordinal 0
    assert fit["node_number"] in svc["flows_to"]["0"]
    # df passed as 1st positional arg of fit
    assert fit["node_number"] in rc["flows_to"]["1"]
    assert fit["constant_positional_args"] == {"2": "7"}
    # control chain: each node precedes the next
    order = sorted(nodes)
    for a, b in zip(order, order[1:]):
        assert nodes[a]["immediately_precedes"] == [b]


def test_flow_nodes_on_synth_pages(spark):
    pages = synth_pages(spark, 80, seed=3)
    qa = extract_qa(pages)
    nodes = extract_flow_nodes(qa, FIXED_CATALOG)
    triples = analysis_triples(nodes)
    assert nodes.count() > 0
    preds = {r.pred for r in triples.select("pred").distinct().collect()}
    assert G4C + "flowsTo" in preds
    assert "http://semanticscience.org/resource/SIO_000250" in preds
    # the synth corpus exercises the G2 reads/writes subset end-to-end
    assert G4C + "read" in preds
    assert G4C + "write" in preds


def test_flow_extraction_reads_writes():
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    code = (
        "import pandas\n"
        "df = pandas.read_csv('t.csv')\n"
        "print(df.shape)\n"          # attribute read on df's producer
        "df['col'] = 1\n"            # subscript write
        "df.index = None\n"          # attribute write (not also a read)
        "df.head()\n"                # method-ish call -> NOT a read
        "df[0] = 2\n"                # digit subscript -> skipped (node-ref ambiguity)
    )
    cat = build_flow_catalog(FIXED_CATALOG)
    nodes = extract_page_flow_nodes("http://q/1", [code], cat)
    rc = next(n for n in nodes if n["path"] == ["pandas", "read_csv"])
    assert [r["field"] for r in rc["reads"]] == ["shape"]
    assert [w["field"] for w in rc["writes"]] == ["col", "index"]


def test_flow_multiline_span_and_container_chain():
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    code = (
        "import pandas\n"
        "df = pandas.read_csv(\n"
        "    'a.csv',\n"
        "    7)\n"
        "both = [df, df]\n"
        "out = pandas.read_csv(both)\n"
    )
    cat = build_flow_catalog(FIXED_CATALOG)
    nodes = extract_page_flow_nodes("http://q/1", [code], cat)
    rc1, rc2 = [n for n in nodes if n["path"] == ["pandas", "read_csv"]]
    # multi-line span: 3 physical lines, firstLine != lastLine
    loc = rc1["source_location"]
    assert (loc["first_line"], loc["last_line"]) == (2, 4)
    assert rc1["source_lines"] == ["df = pandas.read_csv(", "    'a.csv',", "    7)"]
    # args inside the span still parse: constant positional 1 and 2
    assert rc1["constant_positional_args"] == {"1": "a.csv", "2": "7"}
    # container chain: both = [df, df] -> read_csv(both) flows df's
    # producer to the second call at arg position 1 (once per member)
    assert rc1["flows_to"]["1"] == [rc2["node_number"]] * 2
    # container assignment itself creates no node
    assert len(nodes) == 3


def test_flow_call_chaining_collapse_analogue():
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    code = (
        "import sklearn\n"
        "result = sklearn.svm.SVC(1).fit(df, 7)\n"
        "bogus = sklearn.svm.SVC(1).nosuch(x)\n"
    )
    cat = build_flow_catalog(FIXED_CATALOG)
    nodes = extract_page_flow_nodes("http://q/1", [code], cat)
    svc1, svc2 = [n for n in nodes if n["path"] == ["sklearn", "svm", "SVC"]]
    fit = next(n for n in nodes if n["path"] == ["sklearn", "svm", "SVC", "fit"])
    # ctor(...).method(...) links ctor -> method at DATA-0, no variable
    assert svc1["flows_to"]["0"] == [fit["node_number"]]
    assert fit["constant_positional_args"] == {"2": "7"}
    # the chained result is the method node's value
    assert fit["value_names"] == ["result"]
    # uncataloged chained method: G1 turtle-path extension — WALA mints
    # a node for EVERY invoke on a tracked turtle (golden example2.json
    # node 106, sklearn.SVC.fit.predict), path = receiver.path + [meth]
    nosuch = next(n for n in nodes
                  if n["path"] == ["sklearn", "svm", "SVC", "nosuch"])
    assert svc2["flows_to"] == {"0": [nosuch["node_number"]]}
    assert nosuch["value_names"] == ["bogus"]
    assert len(nodes) == 5


def test_flow_catalog_scales_to_100k_entities():
    """The suffix probe must be O(1) per call, not O(|catalog|): with the
    reference's real 5.8M-method catalog a linear sweep per candidate
    call is a 100x-scale killer (VERDICT r1 'What's wrong' #1)."""
    import time

    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    records = [
        {"module": f"mod{i % 997}", "klass": None,
         "function": f"mod{i % 997}.pkg{i}.func{i}"}
        for i in range(100_000)
    ]
    cat = build_flow_catalog(records)
    # 2000 candidate calls, all hitting the bare-tail suffix path
    code = "import mod1\n" + "".join(
        f"v{i} = func{i * 37 % 100_000}(1)\n" for i in range(2000)
    )
    t0 = time.time()
    nodes = extract_page_flow_nodes("http://q/big", [code], cat)
    elapsed = time.time() - t0
    assert len(nodes) == 2001  # import + every call resolved
    assert elapsed < 10.0, f"suffix probe not O(1): {elapsed:.1f}s"


def test_flow_extraction_invariants_on_random_snippets():
    """Property net over the flow extractor: for random line soups the
    worker must never crash, node numbers are strictly increasing, every
    flowsTo / precedes target is a real later node, and extraction is
    deterministic."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    line = st.one_of(
        st.just("import pandas"),
        st.just("import sklearn"),
        st.just("df = pandas.read_csv('a.csv')"),
        st.just("m = sklearn.svm.SVC(1)"),
        st.just("r = m.fit(df, 2)"),
        st.just("r = sklearn.svm.SVC(1).fit(df, 2)"),
        st.just("pair = [df, m]"),
        st.just("z = pandas.read_csv(pair)"),
        st.just("print(df.shape)"),
        st.just("df['c'] = 1"),
        st.just("df.x = 2"),
        st.just("x = pandas.read_csv("),   # unbalanced
        st.just("    'b.csv', 3)"),
        st.just("nonsense ((("),
        st.just(""),
        st.text(alphabet="abc().=[] '", max_size=12),
    )

    @settings(max_examples=150, deadline=None)
    @given(st.lists(line, max_size=10))
    def run(lines):
        code = "\n".join(lines)
        nodes = extract_page_flow_nodes("http://q/p", [code], cat)
        nums = [n["node_number"] for n in nodes]
        assert nums == sorted(nums) and len(set(nums)) == len(nums)
        valid = set(nums)
        for n in nodes:
            for dsts in n["flows_to"].values():
                assert set(dsts) <= valid
                # no self-loops; numbering is textual discovery order, so
                # nested-call args (`g(f(x))`: f numbered after g, flows
                # INTO g — evaluation order) legitimately point backward
                assert all(d != n["node_number"] for d in dsts)
            assert set(n["immediately_precedes"]) <= valid
        assert nodes == extract_page_flow_nodes("http://q/p", [code], cat)

    run()


def test_tuple_unpack_element_nodes():
    """`a, b = call(...)` → per-output element nodes with ordinal path
    extension, fed by the call at DATA-0 (example2.json nodes 87/89/90)."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    code = (
        "import sklearn\n"
        "train, test = train_test_split(data)\n"
        "out = pandas.read_csv(train)\n"
    )
    cat = build_flow_catalog(FIXED_CATALOG)
    nodes = extract_page_flow_nodes("http://q/1", [code], cat)
    call = next(n for n in nodes if n["path_end"] == "train_test_split")
    e0 = next(n for n in nodes if n["path"] == call["path"] + ["0"])
    e1 = next(n for n in nodes if n["path"] == call["path"] + ["1"])
    assert sorted(call["flows_to"]["0"]) == sorted(
        [e0["node_number"], e1["node_number"]]
    )
    assert e0["value_names"] == ["train"] and e1["value_names"] == ["test"]
    # downstream use resolves to the ELEMENT node, not the call node
    rc = next(n for n in nodes if n["path"] == ["pandas", "read_csv"])
    assert e0["flows_to"]["1"] == [rc["node_number"]]
    assert "1" not in call["flows_to"]


def test_attr_and_subscript_read_nodes():
    """`x = v.attr` / `x = v['k']` become read NODES with extended paths,
    container back-refs and DATA-0 feed (example2.json nodes 95/100)."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    code = (
        "import pandas\n"
        "df = pandas.read_csv('t.csv')\n"
        "cols = df.columns\n"
        "y = df['Dataset']\n"
        "out = pandas.read_csv(cols, y)\n"
    )
    cat = build_flow_catalog(FIXED_CATALOG)
    nodes = extract_page_flow_nodes("http://q/1", [code], cat)
    rc = next(n for n in nodes if n["path"] == ["pandas", "read_csv"]
              and n["value_names"] == ["df"])
    cols = next(n for n in nodes if n["path"] == ["pandas", "read_csv", "columns"])
    y = next(n for n in nodes if n["path"] == ["pandas", "read_csv", "Dataset"])
    assert cols["reads"] == [{"container": [rc["node_number"]], "field": "columns"}]
    assert y["reads"] == [{"container": [rc["node_number"]], "field": "Dataset"}]
    assert sorted(rc["flows_to"]["0"]) == sorted(
        [cols["node_number"], y["node_number"]]
    )
    # the read nodes (not df's producer) feed the consumer at args 1/2
    out = next(n for n in nodes if n["value_names"] == ["out"])
    assert cols["flows_to"]["1"] == [out["node_number"]]
    assert y["flows_to"]["2"] == [out["node_number"]]
    # the assignment-read is NOT also recorded as a read on the producer
    assert rc["reads"] == []


def test_slice_nodes():
    """`x = v.attr[a:b]` → read node + is_slice node fed at position 1;
    `x = v[a:b]` → is_slice node with the producer's own path
    (wala/builtin/slice probe, example2.json nodes 92/93)."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    code = (
        "import pandas\n"
        "df = pandas.read_csv('t.csv')\n"
        "X = df.columns[:len(df.columns)-1]\n"
        "head = df[0:5]\n"
        "out = pandas.read_csv(X, head)\n"
    )
    cat = build_flow_catalog(FIXED_CATALOG)
    nodes = extract_page_flow_nodes("http://q/1", [code], cat)
    rc = next(n for n in nodes if n["value_names"] == ["df"])
    reads = [n for n in nodes if n["path"] == ["pandas", "read_csv", "columns"]
             and not n["is_slice"]]
    slices = [n for n in nodes if n["is_slice"]]
    assert len(reads) == 1 and len(slices) == 2
    attr_slice = next(s for s in slices if s["path"] == ["pandas", "read_csv", "columns"])
    plain_slice = next(s for s in slices if s["path"] == ["pandas", "read_csv"])
    # read node feeds the slice at position 1 (the slice builtin's
    # container argument); producer feeds the read at DATA-0
    assert rc["flows_to"]["0"] == [reads[0]["node_number"]]
    assert reads[0]["flows_to"]["1"] == [attr_slice["node_number"]]
    assert rc["flows_to"]["1"] == [plain_slice["node_number"]]
    assert attr_slice["value_names"] == ["X"]
    assert plain_slice["value_names"] == ["head"]
    # sliced values track their slice node into later calls
    out = next(n for n in nodes if n["value_names"] == ["out"])
    assert attr_slice["flows_to"]["1"] == [out["node_number"]]
    assert plain_slice["flows_to"]["2"] == [out["node_number"]]


def test_attr_chain_desugar():
    """`x = m.coef_.T` (final r5): a pure attr chain on a tracked value
    splits into the single-attr reads the tracker already chains —
    each hop a read node with a container back-ref, the last binding x;
    module paths (`x = sklearn.svm.SVC`) and untracked bases stay
    untouched, and an adversarial 1000-dot line does not recurse."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    nodes = extract_page_flow_nodes(
        "http://q/1",
        ["import pandas, sklearn\nm = sklearn.svm.SVC(1)\n"
         "x = m.coef_.T\nz = pandas.concat(x)\n"],
        cat,
    )
    svc = next(n for n in nodes if n["path"] == ["sklearn", "svm", "SVC"])
    coef = next(n for n in nodes
                if n["path"] == ["sklearn", "svm", "SVC", "coef_"])
    t = next(n for n in nodes
             if n["path"] == ["sklearn", "svm", "SVC", "coef_", "T"])
    z = next(n for n in nodes if n["value_names"] == ["z"])
    assert coef["reads"] == [{"container": [svc["node_number"]],
                              "field": "coef_"}]
    assert t["reads"] == [{"container": [coef["node_number"]],
                           "field": "T"}]
    assert coef["value_names"] == [] and t["value_names"] == ["x"]
    assert t["flows_to"]["1"] == [z["node_number"]]
    # module path stays a module path (no spurious read nodes)
    n2 = extract_page_flow_nodes(
        "http://q/1",
        ["import sklearn\nC = sklearn.svm.SVC\nr = C(1).fit(x, 1)\n"],
        cat,
    )
    assert not any(n["reads"] for n in n2)


def test_binop_subscript_reads():
    """`x = df['a'] * 2` / `df['new'] = df['c'] * 2` (final r5): a
    subscript operand in a binop hoists into a temp minting its
    field-read node, which unions into x (G7) and survives the write
    form; the string-key × string-key form (`df['a'] + df['b']`) stays
    whole for the semForms expression miner — it records the
    dataflow-normalized expression and mints no read nodes, exactly as
    before."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
        extract_page_expressions,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = ("import pandas\ndf = pandas.read_csv('t.csv')\n"
            "x = df['a'] * 2\n"
            "df['new'] = df['c'] * 2\n"
            "z = pandas.concat(x)\n")
    nodes = extract_page_flow_nodes("http://q/1", [code], cat)
    z = next(n for n in nodes if n["value_names"] == ["z"])
    ra = next(n for n in nodes if n["path"] == ["pandas", "read_csv", "a"])
    rc = next(n for n in nodes if n["path"] == ["pandas", "read_csv", "c"])
    df = next(n for n in nodes if n["value_names"] == ["df"])
    # the operand read unions into x and feeds the consumer
    assert ra["flows_to"]["1"] == [z["node_number"]]
    # the write form keeps its write record; the operand read mints
    assert {"container": None, "field": "new"} in df["writes"]
    assert rc["reads"] == [{"container": [df["node_number"]], "field": "c"}]
    assert all(not v.startswith("_sub") for n in nodes
               for v in n["value_names"])
    # miner-owned statement: expression recorded, no read nodes minted
    miner_code = ("import pandas\ndf = pandas.read_csv('t.csv')\n"
                  "x = df['a'] + df['b']\n")
    exprs = extract_page_expressions("http://q/1", [miner_code], cat)
    assert exprs and "df0['a'] + df0['b']" in [e["code"] for e in exprs]
    n2 = extract_page_flow_nodes("http://q/1", [miner_code], cat)
    assert not any(n["path"][-1:] == ["a"] for n in n2)


def test_subscript_chain_arg_hoist():
    """A subscript chain in call-ARG position (final r5) hoists into a
    temp assignment before the call — `pandas.concat(df['col'].values)`
    mints the field read + attr read feeding concat at the arg's
    ordinal, keyword args wire through the kw machinery, and bare
    single-accessor args keep their existing per-occurrence shapes."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    nodes = extract_page_flow_nodes(
        "http://q/1",
        ["import pandas, sklearn\ndf = pandas.read_csv('t.csv')\n"
         "z = pandas.concat(df['a'].values, df['b'].sum())\n"
         "m = sklearn.svm.SVC(C=df['c'].mean())\n"],
        cat,
    )
    z = next(n for n in nodes if n["value_names"] == ["z"])
    m = next(n for n in nodes if n["value_names"] == ["m"])
    vals = next(n for n in nodes
                if n["path"] == ["pandas", "read_csv", "a", "values"])
    summ = next(n for n in nodes
                if n["path"] == ["pandas", "read_csv", "b", "sum"])
    mean = next(n for n in nodes
                if n["path"] == ["pandas", "read_csv", "c", "mean"])
    assert vals["flows_to"]["1"] == [z["node_number"]]
    assert summ["flows_to"]["2"] == [z["node_number"]]
    assert mean["flows_to"]["1"] == [m["node_number"]]
    # hoist temps never leak
    assert all(not v.startswith("_sub") for n in nodes
               for v in n["value_names"])
    # each chain mints its field read feeding the chain-final shape
    for key in ("a", "b", "c"):
        rd = next(n for n in nodes
                  if n["path"] == ["pandas", "read_csv", key])
        assert rd["value_names"] == [] and rd["reads"]


def test_dict_literal_keyed_loads():
    """`cfg = {'m': SVC(1), 'd': df}` (final r5): string keys store
    their values like the subscript-STORE form, so `cfg['m'].fit(x)`
    resolves against the stored ctor and `v = cfg['d']` propagates the
    stored producer; a whole-object rebind invalidates the store."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    nodes = extract_page_flow_nodes(
        "http://q/1",
        ["import pandas, sklearn\n"
         "df = pandas.read_csv('t.csv')\n"
         "cfg = {'d': df, 'm': sklearn.svm.SVC(1), 'n': 3}\n"
         "r = cfg['m'].fit(cfg['d'], 1)\n"
         "v = cfg['d']\n"
         "z = pandas.concat(v)\n"],
        cat,
    )
    svc = next(n for n in nodes if n["path"] == ["sklearn", "svm", "SVC"])
    fit = next(n for n in nodes
               if n["path"] == ["sklearn", "svm", "SVC", "fit"])
    df = next(n for n in nodes if n["value_names"] == ["df"])
    z = next(n for n in nodes if n["value_names"] == ["z"])
    # stored ctor is the receiver (DATA-0) of the keyed method call
    assert fit["node_number"] in svc["flows_to"]["0"]
    # keyed load as an ARG: df feeds fit at ordinal 1
    assert fit["node_number"] in df["flows_to"]["1"]
    # keyed load as an assignment rhs propagates the producer
    assert z["node_number"] in df["flows_to"].get("2", []) or \
        z["node_number"] in df["flows_to"].get("1", [])
    # whole-object rebind invalidates the keyed store
    nodes2 = extract_page_flow_nodes(
        "http://q/1",
        ["import sklearn\ncfg = {'m': sklearn.svm.SVC(1)}\ncfg = 5\n"
         "r = cfg['m'].fit(x, 1)\n"],
        cat,
    )
    assert not any(n["path"] == ["sklearn", "svm", "SVC", "fit"]
                   for n in nodes2)


def test_subscript_chain_desugar():
    """`x = df['col'].values` / `.sum()` / `df.iloc[0].tolist()` (late
    r5): a dot-chain off a subscript access desugars into the two-line
    form via a hidden temp — the intermediate read/selection node keeps
    WALA's unnamed temp value (empty value_names) while the chain-final
    node binds x; call args in the chain wire at their ordinals."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    nodes = extract_page_flow_nodes(
        "http://q/1",
        ["import pandas\ndf = pandas.read_csv('t.csv')\n"
         "d2 = pandas.read_csv('u.csv')\n"
         "x = df['col'].values\n"
         "y = df['col'].fillna(d2)\n"
         "w = df.iloc[0].tolist()\n"
         "out = pandas.read_csv(x, y, w)\n"],
        cat,
    )
    # no desugar temp leaks into output
    assert all(not v.startswith("_sub") for n in nodes
               for v in n["value_names"])
    reads = [n for n in nodes
             if n["path"] == ["pandas", "read_csv", "col"]]
    # two separate field reads (one per statement), both unnamed temps
    assert len(reads) == 2 and all(n["value_names"] == [] for n in reads)
    vals = next(n for n in nodes
                if n["path"] == ["pandas", "read_csv", "col", "values"])
    assert vals["value_names"] == ["x"]
    fill = next(n for n in nodes
                if n["path"] == ["pandas", "read_csv", "col", "fillna"])
    assert fill["value_names"] == ["y"]
    # d2 wires into fillna at arg ordinal 1; a col read is its receiver
    d2 = next(n for n in nodes if n["value_names"] == ["d2"])
    assert fill["node_number"] in d2["flows_to"]["1"]
    assert any(fill["node_number"] in n["flows_to"].get("0", [])
               for n in reads)
    tol = next(n for n in nodes
               if n["path"] == ["pandas", "read_csv", "iloc", "tolist"])
    assert tol["value_names"] == ["w"]
    # all three chain-finals feed the consumer at their ordinals
    out = next(n for n in nodes if n["value_names"] == ["out"])
    assert vals["flows_to"]["1"] == [out["node_number"]]
    assert fill["flows_to"]["2"] == [out["node_number"]]
    assert tol["flows_to"]["3"] == [out["node_number"]]
    # bit-identical to the explicit two-line form modulo the temp name
    one = extract_page_flow_nodes(
        "http://q/1",
        ["import pandas\ndf = pandas.read_csv('t.csv')\n"
         "x = df['col'].sum()\nz = pandas.concat(x)\n"],
        cat,
    )
    two = extract_page_flow_nodes(
        "http://q/1",
        ["import pandas\ndf = pandas.read_csv('t.csv')\n"
         "t = df['col']\nx = t.sum()\nz = pandas.concat(x)\n"],
        cat,
    )
    strip = lambda ns: [  # noqa: E731
        (tuple(n["path"]), n["is_slice"],
         tuple(sorted((k, tuple(v)) for k, v in n["flows_to"].items())),
         tuple((tuple(r["container"] or []), r["field"]) for r in n["reads"]))
        for n in ns
    ]
    assert strip(one) == strip(two)


def test_attr_nonslice_subscript_selection():
    """`x = df.iloc[0]` / `df.values[i]` / `df.loc['a']` (late r5): attr
    READ node then the access on its value — string key = second field
    read, bit-identical to the two-line `t = df.loc` / `x = t['a']`
    form; anything else = path-unchanged selection fed at position 1
    (example1.json node 84).  Previously the one-line form dropped the
    binding entirely."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import pandas\n"
        "df = pandas.read_csv('t.csv')\n"
        "row = df.iloc[0]\n"
        "cell = df.loc['a']\n"
        "out = pandas.read_csv(row, cell)\n"
    )
    nodes = extract_page_flow_nodes("http://q/1", [code], cat)
    rc = next(n for n in nodes if n["value_names"] == ["df"])
    iloc = next(n for n in nodes if n["path"] == ["pandas", "read_csv", "iloc"]
                and n["reads"])
    sel = next(n for n in nodes if n["path"] == ["pandas", "read_csv", "iloc"]
               and not n["reads"])
    loc = next(n for n in nodes if n["path"] == ["pandas", "read_csv", "loc"])
    key = next(n for n in nodes if n["path"] == ["pandas", "read_csv", "loc", "a"])
    # producer feeds each attr read at DATA-0
    assert sorted(rc["flows_to"]["0"]) == sorted(
        [iloc["node_number"], loc["node_number"]]
    )
    assert iloc["reads"] == [{"container": [rc["node_number"]], "field": "iloc"}]
    # non-string index: selection node fed at position 1, path unchanged
    assert iloc["flows_to"]["1"] == [sel["node_number"]]
    assert sel["value_names"] == ["row"] and not sel["is_slice"]
    # string key: second field READ fed at DATA-0
    assert loc["flows_to"]["0"] == [key["node_number"]]
    assert key["reads"] == [{"container": [loc["node_number"]], "field": "a"}]
    assert key["value_names"] == ["cell"]
    # both track into the consumer at their arg ordinals
    out = next(n for n in nodes if n["value_names"] == ["out"])
    assert sel["flows_to"]["1"] == [out["node_number"]]
    assert key["flows_to"]["2"] == [out["node_number"]]
    # the one-line string form is node-shape-identical to the two-line
    # form (read chains match bit-for-bit)
    two = extract_page_flow_nodes(
        "http://q/1",
        ["import pandas\ndf = pandas.read_csv('t.csv')\n"
         "t = df.loc\ncell = t['a']\nout = pandas.read_csv(cell)\n"],
        cat,
    )
    one = extract_page_flow_nodes(
        "http://q/1",
        ["import pandas\ndf = pandas.read_csv('t.csv')\n"
         "cell = df.loc['a']\nout = pandas.read_csv(cell)\n"],
        cat,
    )
    strip = lambda ns: [  # noqa: E731
        (tuple(n["path"]), n["is_import"], n["is_slice"],
         tuple(sorted((k, tuple(v)) for k, v in n["flows_to"].items())),
         tuple((tuple(r["container"] or []), r["field"]) for r in n["reads"]))
        for n in ns
    ]
    assert strip(two) == strip(one)


def test_with_for_and_augmented_assignment():
    """`with … as v:` binds like an assignment; `for v in x:` and
    `x op= a` propagate producers as members into later calls."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    code = (
        "import sklearn\n"
        "with SVC() as model:\n"
        "    model.fit(data)\n"
        "df = pandas.read_csv('t.csv')\n"
        "for row in df:\n"
        "    out = pandas.read_csv(row)\n"
        "acc = json.load('a')\n"
        "acc += df\n"
        "final = pandas.read_csv(acc)\n"
    )
    cat = build_flow_catalog(FIXED_CATALOG)
    nodes = extract_page_flow_nodes("http://q/1", [code], cat)
    ctor = next(n for n in nodes if n["path_end"] == "SVC")
    fit = next(n for n in nodes if n["path_end"] == "fit")
    # with-binding: receiver method resolves through the bound name
    assert ctor["flows_to"]["0"] == [fit["node_number"]]
    assert ctor["value_names"] == ["model"]
    rc = next(n for n in nodes if n["value_names"] == ["df"])
    out = next(n for n in nodes if n["value_names"] == ["out"])
    # for-loop target carries df's producer into the body call
    assert out["node_number"] in rc["flows_to"]["1"]
    # augmented assignment: acc keeps json.load's producer and gains df's
    jl = next(n for n in nodes if n["path_end"] == "load")
    fin = next(n for n in nodes if n["value_names"] == ["final"])
    assert jl["flows_to"]["1"] == [fin["node_number"]]
    assert fin["node_number"] in rc["flows_to"]["1"]


def test_branch_fork_join_control_flow():
    """G5 subset: if/elif/else arms fork from the pre-if frontier and
    join at the first call after the chain; arms never precede each
    other; without an else the fall-through edge survives."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import pandas\n"
        "df = pandas.read_csv('t.csv')\n"
        "if flag:\n"
        "    a = json.load('a')\n"
        "elif other:\n"
        "    b = numpy.linspace(0, 1)\n"
        "else:\n"
        "    c = pandas.DataFrame(x)\n"
        "out = pandas.read_csv('u.csv')\n"
    )
    nodes = extract_page_flow_nodes("http://q/1", [code], cat)
    by_vn = {n["value_names"][0]: n for n in nodes if n["value_names"]}
    df, a, b, c, out = (by_vn[k] for k in ("df", "a", "b", "c", "out"))
    # fork: every arm head is preceded by the pre-if call, not by a
    # sibling arm
    for arm in (a, b, c):
        assert arm["node_number"] in df["immediately_precedes"]
    assert a["immediately_precedes"] == [out["node_number"]]
    assert b["immediately_precedes"] == [out["node_number"]]
    assert c["immediately_precedes"] == [out["node_number"]]
    # closed chain (else present): df does not directly precede out
    assert out["node_number"] not in df["immediately_precedes"]

    # no else -> fall-through edge from the pre-if call to the join
    code2 = (
        "import pandas\n"
        "df = pandas.read_csv('t.csv')\n"
        "if flag:\n"
        "    a = json.load('a')\n"
        "out = pandas.read_csv('u.csv')\n"
    )
    nodes2 = extract_page_flow_nodes("http://q/2", [code2], cat)
    by_vn2 = {n["value_names"][0]: n for n in nodes2 if n["value_names"]}
    df2, a2, out2 = (by_vn2[k] for k in ("df", "a", "out"))
    assert sorted(df2["immediately_precedes"]) == sorted(
        [a2["node_number"], out2["node_number"]]
    )
    assert a2["immediately_precedes"] == [out2["node_number"]]


def test_try_except_fork_join_control_flow():
    """G5 try/except sibling: the try body is the always-running arm,
    except/else arms fork from the pre-try frontier, `finally:` joins
    immediately (its body runs after every arm), and the join never
    adds the pre fall-through edge (the try body always executes)."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import pandas\nimport numpy\n"
        "df = pandas.read_csv('t.csv')\n"
        "try:\n"
        "    a = numpy.linspace(0, 1)\n"
        "except ValueError:\n"
        "    b = pandas.DataFrame(df)\n"
        "finally:\n"
        "    c = pandas.read_csv('u.csv')\n"
        "out = pandas.concat(c)\n"
    )
    nodes = extract_page_flow_nodes("http://q/try1", [code], cat)
    by_vn = {n["value_names"][0]: n for n in nodes if n["value_names"]}
    df, a, b, c, out = (by_vn[k] for k in ("df", "a", "b", "c", "out"))
    # fork: both arms preceded by the pre-try call, not by each other
    assert a["node_number"] in df["immediately_precedes"]
    assert b["node_number"] in df["immediately_precedes"]
    assert b["node_number"] not in a["immediately_precedes"]
    # join at the finally body call; no pre fall-through edge
    assert a["immediately_precedes"] == [c["node_number"]]
    assert b["immediately_precedes"] == [c["node_number"]]
    assert c["node_number"] not in df["immediately_precedes"]
    assert c["immediately_precedes"] == [out["node_number"]]

    # without finally: join at the first call after the chain, still no
    # pre fall-through edge
    code2 = (
        "import pandas\nimport numpy\n"
        "df = pandas.read_csv('t.csv')\n"
        "try:\n"
        "    a = numpy.linspace(0, 1)\n"
        "except Exception:\n"
        "    b = pandas.DataFrame(df)\n"
        "out = pandas.read_csv('u.csv')\n"
    )
    nodes2 = extract_page_flow_nodes("http://q/try2", [code2], cat)
    by_vn2 = {n["value_names"][0]: n for n in nodes2 if n["value_names"]}
    df2, a2, b2, out2 = (by_vn2[k] for k in ("df", "a", "b", "out"))
    assert a2["immediately_precedes"] == [out2["node_number"]]
    assert b2["immediately_precedes"] == [out2["node_number"]]
    assert out2["node_number"] not in df2["immediately_precedes"]


def test_bound_method_collapse_g4():
    """G4 general collapse (`PythonTurtleAnalysisEngine.java:2069-2112`):
    `m = obj.fit; m(X)` yields the same node shape as `obj.fit(X)` — the
    standalone property-read turtle is killed and its incoming DATA-0
    edge rewired onto the invoke.  A read with another use (argument)
    is NOT collapsed, matching WALA's sole-use check; a reassigned
    binding never fuses."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    bound = (
        "import pandas\nimport sklearn\n"
        "d = pandas.read_csv('t.csv')\n"
        "m = sklearn.svm.SVC(1)\n"
        "f = m.fit\n"
        "f(d)\n"
    )
    nodes = extract_page_flow_nodes("http://q/1", [bound], cat)
    paths = [".".join(n["path"]) for n in nodes]
    # the read turtle is gone; exactly one fit node remains
    assert paths.count("sklearn.svm.SVC.fit") == 1
    by_path = {".".join(n["path"]): n for n in nodes}
    svc, fit = by_path["sklearn.svm.SVC"], by_path["sklearn.svm.SVC.fit"]
    read_csv = by_path["pandas.read_csv"]
    assert svc["flows_to"]["0"] == [fit["node_number"]]        # receiver rewired
    assert read_csv["flows_to"]["1"] == [fit["node_number"]]   # call-site arg
    assert not fit["reads"]
    # control chain spliced across the killed node
    assert svc["immediately_precedes"] == [fit["node_number"]]

    # non-sole use cancels the fuse: read node survives, f(d) unresolved
    arg_use = (
        "import pandas\nimport sklearn\n"
        "d = pandas.read_csv('t.csv')\n"
        "m = sklearn.svm.SVC(1)\n"
        "f = m.fit\n"
        "z = pandas.read_csv(f)\n"
        "f(d)\n"
    )
    nodes2 = extract_page_flow_nodes("http://q/2", [arg_use], cat)
    fits = [n for n in nodes2 if ".".join(n["path"]) == "sklearn.svm.SVC.fit"]
    assert len(fits) == 1 and fits[0]["reads"]  # still the read turtle


def test_reassigned_method_result_clears_klass_g8():
    """G8 receiver-context subset: after `p = p.predict(a)` the variable
    no longer holds an SVC instance, so `p.fit(a)` must not resolve
    against the stale class (it used to cross-wire a fit node onto the
    predict result)."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import pandas\nimport sklearn\n"
        "a = pandas.read_csv('t.csv')\n"
        "p = sklearn.svm.SVC(1)\n"
        "p = p.predict(a)\n"
        "p.fit(a)\n"
    )
    nodes = extract_page_flow_nodes("http://q/1", [code], cat)
    paths = [".".join(n["path"]) for n in nodes]
    assert "sklearn.svm.SVC.predict" in paths
    assert "sklearn.svm.SVC.fit" not in paths

    # two same-class instances with interleaved calls stay separated
    code2 = (
        "import pandas\nimport sklearn\n"
        "a = pandas.read_csv('x.csv')\n"
        "b = pandas.read_csv('y.csv')\n"
        "m1 = sklearn.svm.SVC(1)\n"
        "m2 = sklearn.svm.SVC(2)\n"
        "m1.fit(a)\n"
        "m2.fit(b)\n"
    )
    nodes2 = extract_page_flow_nodes("http://q/2", [code2], cat)
    by_vn = {n["value_names"][0]: n for n in nodes2 if n["value_names"]}
    fits = sorted(
        n["node_number"] for n in nodes2
        if ".".join(n["path"]) == "sklearn.svm.SVC.fit"
    )
    assert by_vn["m1"]["flows_to"]["0"] == [fits[0]]
    assert by_vn["m2"]["flows_to"]["0"] == [fits[1]]


def test_container_loop_receiver_g8_members():
    """G8 members subset: a container/loop target whose tracked members
    all construct the SAME class resolves method calls against it, with
    a DATA-0 edge from EVERY member (union points-to receiver); a
    container of calls binds the lhs as MEMBERS, never as the last
    call's value; heterogeneous member classes stay unresolved."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import pandas\nimport sklearn\n"
        "df = pandas.read_csv('t.csv')\n"
        "ms = [sklearn.svm.SVC(3.0), sklearn.svm.SVC(4.0)]\n"
        "for mm in ms:\n"
        "    rr = mm.fit(df)\n"
    )
    nodes = extract_page_flow_nodes("http://q/1", [code], cat)
    svcs = [n for n in nodes if ".".join(n["path"]) == "sklearn.svm.SVC"]
    fits = [n for n in nodes if ".".join(n["path"]) == "sklearn.svm.SVC.fit"]
    assert len(svcs) == 2 and len(fits) == 1
    fit_num = fits[0]["node_number"]
    for s in svcs:
        assert s["flows_to"]["0"] == [fit_num]

    # the container itself must NOT be callable as an instance
    code2 = (
        "import sklearn\n"
        "ms = [sklearn.svm.SVC(1.0), sklearn.svm.SVC(2.0)]\n"
        "ms.fit(x)\n"
    )
    nodes2 = extract_page_flow_nodes("http://q/2", [code2], cat)
    assert not [n for n in nodes2 if n["path"][-1] == "fit"]

    # heterogeneous members: outside the honest subset, no fit node
    code3 = (
        "import sklearn\n"
        "ms = [sklearn.svm.SVC(1.0), sklearn.linear_model.LinearRegression()]\n"
        "for mm in ms:\n"
        "    rr = mm.fit(x)\n"
    )
    nodes3 = extract_page_flow_nodes("http://q/3", [code3], cat)
    assert not [n for n in nodes3 if n["path"][-1] == "fit"]


def _edges(nodes):
    out = set()
    for n in nodes:
        for pos, ds in n["flows_to"].items():
            for d in ds:
                out.add((n["node_number"], pos, d))
    return out


def test_field_store_load_through_untracked_object():
    """G2 r5: storing a tracked value into an untracked object's field
    (`h.data = df` / `cfg['d'] = df`) and loading it later — as a whole
    call argument or an assignment rhs — propagates the value with no
    intermediate node (the WALA store/load pair resolved by pointer
    analysis, `…Engine.java:1892-1954`); a whole-object rebind drops
    the store."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog, extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import pandas\nimport sklearn\n"
        "df = pandas.read_csv('t.csv')\n"
        "h = H()\n"
        "h.data = df\n"
        "m1 = sklearn.svm.SVC(h.data)\n"      # field ref as call arg
        "cfg = {}\n"
        "cfg['d'] = df\n"
        "m2 = sklearn.svm.SVC(cfg['d'])\n"    # subscript field ref
        "y = h.data\n"                         # field load as assignment
        "m3 = sklearn.svm.SVC(y)\n"
    )
    nodes = extract_page_flow_nodes("http://q/fs", [code], cat)
    read = next(n for n in nodes if n["path"] == ["pandas", "read_csv"])
    svcs = [n for n in nodes if n["path"] == ["sklearn", "svm", "SVC"]]
    fl = _edges(nodes)
    assert len(svcs) == 3
    for svc in svcs:
        assert (read["node_number"], "1", svc["node_number"]) in fl
    # no read NODE was created for the untracked-object loads
    assert all(not n["reads"] for n in nodes if n["path"][-1] == "SVC")

    code2 = (
        "import pandas\nimport sklearn\n"
        "df = pandas.read_csv('t.csv')\n"
        "h = H()\n"
        "h.data = df\n"
        "h = G()\n"                            # rebind invalidates
        "m = sklearn.svm.SVC(h.data)\n"
    )
    nodes2 = extract_page_flow_nodes("http://q/fs2", [code2], cat)
    # the rebind drops the store: no ARG edge survives — only the
    # import bindings' DATA-0 edges into the calls made through them
    assert all(e[1] == "0" for e in _edges(nodes2))
    svc2 = next(n for n in nodes2 if n["path"][-1] == "SVC")
    assert not [e for e in _edges(nodes2)
                if e[2] == svc2["node_number"] and e[1] != "0"]


def test_ternary_phi_flows_both_arms():
    """G2/G7 r5: `c = a if cond else b` flows BOTH arms (WALA phi);
    method calls on c resolve through the union receiver when the arms'
    classes agree, and stay unresolved when they differ."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog, extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import pandas\nimport sklearn\n"
        "a = pandas.read_csv('x.csv')\n"
        "b = pandas.read_csv('y.csv')\n"
        "c = a if True else b\n"
        "m = sklearn.svm.SVC(c)\n"
    )
    nodes = extract_page_flow_nodes("http://q/t1", [code], cat)
    reads = [n for n in nodes if n["path"] == ["pandas", "read_csv"]]
    svc = next(n for n in nodes if n["path"] == ["sklearn", "svm", "SVC"])
    fl = _edges(nodes)
    assert len(reads) == 2
    for r in reads:
        assert (r["node_number"], "1", svc["node_number"]) in fl

    code2 = (
        "import sklearn\n"
        "a = sklearn.svm.SVC(1.0)\n"
        "b = sklearn.svm.SVC(2.0)\n"
        "c = a if True else b\n"
        "r = c.fit(1)\n"
    )
    nodes2 = extract_page_flow_nodes("http://q/t2", [code2], cat)
    fit = [n for n in nodes2 if n["path"][-1] == "fit"]
    assert len(fit) == 1
    ctors = [n for n in nodes2 if n["path"] == ["sklearn", "svm", "SVC"]]
    fl2 = _edges(nodes2)
    for c_ in ctors:
        assert (c_["node_number"], "0", fit[0]["node_number"]) in fl2

    code3 = (
        "import sklearn\n"
        "a = sklearn.svm.SVC(1.0)\n"
        "b = sklearn.linear_model.LinearRegression()\n"
        "c = a if True else b\n"
        "r = c.fit(1)\n"
    )
    nodes3 = extract_page_flow_nodes("http://q/t3", [code3], cat)
    assert not [n for n in nodes3 if n["path"][-1] == "fit"]


def test_append_membership():
    """G2 r5: `xs.append(v)` on an untracked list adds the tracked value
    (plain var or same-line call result) to the container members that
    later iteration and call args see."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog, extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import pandas\nimport sklearn\n"
        "dfs = []\n"
        "dfs.append(pandas.read_csv('a.csv'))\n"   # same-line call result
        "x = pandas.read_csv('b.csv')\n"
        "dfs.append(x)\n"                           # plain tracked var
        "for d in dfs:\n"
        "    m = sklearn.svm.SVC(d)\n"
        "out = sklearn.model_selection.train_test_split(dfs)\n"
    )
    nodes = extract_page_flow_nodes("http://q/ap", [code], cat)
    reads = [n for n in nodes if n["path"] == ["pandas", "read_csv"]]
    svc = next(n for n in nodes if n["path"] == ["sklearn", "svm", "SVC"])
    split = next(n for n in nodes
                 if n["path"] == ["sklearn", "model_selection", "train_test_split"])
    fl = _edges(nodes)
    assert len(reads) == 2
    for r in reads:
        assert (r["node_number"], "1", svc["node_number"]) in fl
        assert (r["node_number"], "1", split["node_number"]) in fl


def test_subscript_element_receiver():
    """G2 r5: `models[0].fit(x)` resolves the method against the EXACT
    member the literal index selects (precise allocation site, unlike
    the loop-element union), with a DATA-0 receiver edge from that
    member only; `cfg['m'].fit(x)` resolves through the subscript field
    store.  A tracked receiver with an uncataloged method extends the
    turtle path (G1: WALA mints every invoke on a tracked turtle)
    instead of falling through to the position-blind bare-tail match;
    untracked subscripts keep the old fall-through."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog, extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import pandas\nimport sklearn\n"
        "df = pandas.read_csv('t.csv')\n"
        "a = sklearn.svm.SVC()\n"
        "b = sklearn.linear_model.LinearRegression()\n"
        "models = [a, b]\n"
        "models[0].fit(df)\n"
        "models[1].fit(df)\n"
    )
    nodes = extract_page_flow_nodes("http://q/sub", [code], cat)
    svc = next(n for n in nodes if n["path"] == ["sklearn", "svm", "SVC"])
    lin = next(n for n in nodes
               if n["path"] == ["sklearn", "linear_model", "LinearRegression"])
    svc_fit = next(n for n in nodes
                   if n["path"] == ["sklearn", "svm", "SVC", "fit"])
    lin_fit = next(
        n for n in nodes
        if n["path"] == ["sklearn", "linear_model", "LinearRegression", "fit"])
    fl = _edges(nodes)
    assert (svc["node_number"], "0", svc_fit["node_number"]) in fl
    assert (lin["node_number"], "0", lin_fit["node_number"]) in fl
    assert (svc["node_number"], "0", lin_fit["node_number"]) not in fl
    assert svc_fit["source_text"] == "models[0].fit(...)"

    code2 = (
        "import sklearn\n"
        "cfg = {}\n"
        "cfg['m'] = sklearn.svm.SVC()\n"
        "cfg['m'].fit(x)\n"
    )
    nodes2 = extract_page_flow_nodes("http://q/sub2", [code2], cat)
    svc2 = next(n for n in nodes2 if n["path"] == ["sklearn", "svm", "SVC"])
    fit2 = next(n for n in nodes2
                if n["path"] == ["sklearn", "svm", "SVC", "fit"])
    assert (svc2["node_number"], "0", fit2["node_number"]) in _edges(nodes2)

    # tracked container + uncataloged method: G1 turtle-path extension
    # off the selected member (never the position-blind bare-tail match)
    code3 = (
        "import sklearn\n"
        "a = sklearn.svm.SVC()\n"
        "models = [a]\n"
        "models[0].transform(x)\n"
    )
    nodes3 = extract_page_flow_nodes("http://q/sub3", [code3], cat)
    svc3 = next(n for n in nodes3 if n["path"] == ["sklearn", "svm", "SVC"])
    tr3 = next(n for n in nodes3
               if n["path"] == ["sklearn", "svm", "SVC", "transform"])
    assert (svc3["node_number"], "0", tr3["node_number"]) in _edges(nodes3)

    # untracked subscript keeps the historical bare-tail fall-through
    code4 = "import sklearn\nthings[0].fit(x)\n"
    nodes4 = extract_page_flow_nodes("http://q/sub4", [code4], cat)
    assert [n for n in nodes4 if n["path"][-1] == "fit"]


def test_method_call_through_stored_field():
    """G2 r5: `h.model = SVC()` then `h.model.fit(df)` — the field load
    resolves fit against the stored ctor result, which becomes the
    DATA-0 receiver (the untracked holder contributes no node); an
    untracked rhs overwrite of the field drops the store."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog, extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import pandas\nimport sklearn\n"
        "df = pandas.read_csv('t.csv')\n"
        "h = H()\n"
        "h.model = sklearn.svm.SVC()\n"
        "h.model.fit(df)\n"
    )
    nodes = extract_page_flow_nodes("http://q/fld", [code], cat)
    read = next(n for n in nodes if n["path"] == ["pandas", "read_csv"])
    svc = next(n for n in nodes if n["path"] == ["sklearn", "svm", "SVC"])
    fit = next(n for n in nodes if n["path"] == ["sklearn", "svm", "SVC", "fit"])
    fl = _edges(nodes)
    assert (svc["node_number"], "0", fit["node_number"]) in fl
    assert (read["node_number"], "1", fit["node_number"]) in fl
    assert fit["source_text"] == "h.model.fit(...)"

    code2 = (
        "import pandas\nimport sklearn\n"
        "df = pandas.read_csv('t.csv')\n"
        "h = H()\n"
        "h.model = sklearn.svm.SVC()\n"
        "h.model = unknown_thing\n"
        "h.model.fit(df)\n"
    )
    nodes2 = extract_page_flow_nodes("http://q/fld2", [code2], cat)
    assert not [n for n in nodes2 if n["path"][-1] == "fit"]


def test_tuple_return_from_local_def():
    """G3 r5: `return a, b` from a local def — call-site unpack binds
    each lhs to the matching body producer (element-wise value flow);
    assigned WHOLE the producers become container members; arity
    mismatch unbinds; a ctor in the tuple keeps its class so methods
    on the unpacked var resolve with a receiver edge."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog, extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import pandas\nimport sklearn\n"
        "def load():\n"
        "    a = pandas.read_csv('x.csv')\n"
        "    b = pandas.read_csv('y.csv')\n"
        "    return a, b\n"
        "tr, te = load()\n"
        "m = sklearn.svm.SVC(tr)\n"
        "n = sklearn.svm.SVC(te)\n"
    )
    nodes = extract_page_flow_nodes("http://q/tr", [code], cat)
    reads = [n for n in nodes if n["path"] == ["pandas", "read_csv"]]
    svcs = [n for n in nodes if n["path"] == ["sklearn", "svm", "SVC"]]
    fl = _edges(nodes)
    assert len(reads) == 2 and len(svcs) == 2
    # element-wise: first read -> first SVC, second read -> second SVC
    assert (reads[0]["node_number"], "1", svcs[0]["node_number"]) in fl
    assert (reads[1]["node_number"], "1", svcs[1]["node_number"]) in fl
    assert (reads[0]["node_number"], "1", svcs[1]["node_number"]) not in fl

    code2 = (
        "import pandas\nimport sklearn\n"
        "def mk():\n"
        "    c = sklearn.svm.SVC()\n"
        "    d = pandas.read_csv('t.csv')\n"
        "    return c, d\n"
        "clf, df = mk()\n"
        "clf.fit(df)\n"
    )
    nodes2 = extract_page_flow_nodes("http://q/tr2", [code2], cat)
    svc2 = next(n for n in nodes2 if n["path"] == ["sklearn", "svm", "SVC"])
    fit2 = next(n for n in nodes2
                if n["path"] == ["sklearn", "svm", "SVC", "fit"])
    read2 = next(n for n in nodes2 if n["path"] == ["pandas", "read_csv"])
    fl2 = _edges(nodes2)
    assert (svc2["node_number"], "0", fit2["node_number"]) in fl2
    assert (read2["node_number"], "1", fit2["node_number"]) in fl2

    # assigned whole -> members feed iteration; arity mismatch unbinds
    code3 = (
        "import pandas\nimport sklearn\n"
        "def load():\n"
        "    a = pandas.read_csv('x.csv')\n"
        "    b = pandas.read_csv('y.csv')\n"
        "    return a, b\n"
        "pair = load()\n"
        "for d in pair:\n"
        "    m = sklearn.svm.SVC(d)\n"
        "x, y, z = load()\n"
        "k = sklearn.svm.SVC(x)\n"
    )
    nodes3 = extract_page_flow_nodes("http://q/tr3", [code3], cat)
    svcs3 = [n for n in nodes3 if n["path"] == ["sklearn", "svm", "SVC"]]
    reads3 = [n for n in nodes3 if n["path"] == ["pandas", "read_csv"]]
    fl3 = _edges(nodes3)
    loop_svc = svcs3[0]["node_number"]
    for r in reads3:
        assert (r["node_number"], "1", loop_svc) in fl3
    mismatch_svc = svcs3[1]["node_number"]
    # arity mismatch unbinds the values: no ARG edge reaches the call —
    # the import binding's DATA-0 edge legitimately remains
    assert not [e for e in fl3 if e[2] == mismatch_svc and e[1] != "0"]


def test_branch_phi_union_receiver():
    """r5 SSA phi at the if/else join: both arms bind `m` to an SVC
    ctor, so the post-join `m.fit(X)` resolves through the union
    points-to receiver — ONE fit node fed DATA-0 by BOTH ctor nodes
    (WALA's phi value feeding the invoke)."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import sklearn\n"
        "if flag:\n"
        "    m = sklearn.svm.SVC(1)\n"
        "else:\n"
        "    m = sklearn.svm.SVC(2)\n"
        "m.fit(X)\n"
    )
    nodes = extract_page_flow_nodes("http://q/phi1", [code], cat)
    svcs = [n for n in nodes if n["path"] == ["sklearn", "svm", "SVC"]]
    fits = [n for n in nodes if n["path"] == ["sklearn", "svm", "SVC", "fit"]]
    assert len(svcs) == 2 and len(fits) == 1
    fl = _edges(nodes)
    for ctor in svcs:
        assert (ctor["node_number"], "0", fits[0]["node_number"]) in fl


def test_branch_arm_isolation():
    """r5: arms are exclusive — a binding made in the first arm is NOT
    visible inside a sibling arm (each arm starts from the pre-fork
    environment)."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import pandas\n"
        "if flag:\n"
        "    df = pandas.read_csv('a.csv')\n"
        "else:\n"
        "    out = pandas.concat(df)\n"
    )
    nodes = extract_page_flow_nodes("http://q/phi2", [code], cat)
    by_vn = {n["value_names"][0]: n for n in nodes if n["value_names"]}
    fl = _edges(nodes)
    # no ARG edge from the sibling arm's read_csv into concat
    assert (by_vn["df"]["node_number"], "1",
            by_vn["out"]["node_number"]) not in fl


def test_branch_phi_fall_through_union():
    """r5: an else-less if phis the arm binding with the PRE binding —
    the post-join consumer receives flow from both producers."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import pandas\n"
        "df = pandas.read_csv('a.csv')\n"
        "if flag:\n"
        "    df = pandas.read_csv('b.csv')\n"
        "out = pandas.concat(df)\n"
    )
    nodes = extract_page_flow_nodes("http://q/phi3", [code], cat)
    reads = [n for n in nodes if n["path"] == ["pandas", "read_csv"]]
    out = next(n for n in nodes if n["path"] == ["pandas", "concat"])
    assert len(reads) == 2
    fl = _edges(nodes)
    for r in reads:
        assert (r["node_number"], "1", out["node_number"]) in fl


def test_while_fork_join_phi():
    """r5 `while cond:` — the one-arm loop form of the G5 projection:
    the body forks from the pre frontier (zero-iteration path), the
    first call after it joins body tail + pre fall-through, and the
    loop-header phi unions the body rebind with the pre binding."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import pandas\n"
        "df = pandas.read_csv('a.csv')\n"
        "while cond:\n"
        "    df = pandas.DataFrame(df)\n"
        "out = pandas.concat(df)\n"
    )
    nodes = extract_page_flow_nodes("http://q/while1", [code], cat)
    read = next(n for n in nodes if n["path"] == ["pandas", "read_csv"])
    body = next(n for n in nodes if n["path"] == ["pandas", "DataFrame"])
    out = next(n for n in nodes if n["path"] == ["pandas", "concat"])
    # control: fork from pre into the body AND fall-through to the join
    assert sorted(read["immediately_precedes"]) == sorted(
        [body["node_number"], out["node_number"]]
    )
    assert body["immediately_precedes"] == [out["node_number"]]
    fl = _edges(nodes)
    # body arg: read_csv flows into the body ctor
    assert (read["node_number"], "1", body["node_number"]) in fl
    # loop-header phi: concat sees BOTH the pre binding and the rebind
    assert (read["node_number"], "1", out["node_number"]) in fl
    assert (body["node_number"], "1", out["node_number"]) in fl


def test_branch_phi_field_conservative_drop():
    """r5: a field stored differently per arm does not survive the join
    (the conservative projection of WALA's field-sensitive merge), while
    a field stored identically on every path does."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import pandas\n"
        "df = pandas.read_csv('a.csv')\n"
        "h.keep = df\n"
        "if flag:\n"
        "    h.data = pandas.read_csv('b.csv')\n"
        "else:\n"
        "    h.data = pandas.read_csv('c.csv')\n"
        "one = pandas.concat(h.keep)\n"
        "two = pandas.concat(h.data)\n"
    )
    nodes = extract_page_flow_nodes("http://q/phi4", [code], cat)
    by_vn = {n["value_names"][0]: n for n in nodes if n["value_names"]}
    reads = [n for n in nodes if n["path"] == ["pandas", "read_csv"]]
    fl = _edges(nodes)
    # identical-on-every-path field still loads
    assert (by_vn["df"]["node_number"], "1",
            by_vn["one"]["node_number"]) in fl
    # per-arm disagreeing field is dropped: no ARG edge into `two`
    arm_reads = [r for r in reads if r is not by_vn["df"]]
    for r in arm_reads:
        assert (r["node_number"], "1", by_vn["two"]["node_number"]) not in fl


def test_star_import_binding():
    """late r5 `from M import *`: direct catalog children bind as bare
    names resolving to their canonical entries, calls through the
    binding take DATA-0 from the module's import/member-read chain, and
    constructed-class tracking works through the binding."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "from pandas import *\n"
        "df = read_csv('s.csv')\n"
        "from sklearn.svm import *\n"
        "m = SVC(df)\n"
        "r = m.fit(df, 1)\n"
    )
    nodes = extract_page_flow_nodes("http://q/star1", [code], cat)
    by_vn = {n["value_names"][0]: n for n in nodes if n["value_names"]}
    read, svc, fit = by_vn["df"], by_vn["m"], by_vn["r"]
    assert read["path"] == ["pandas", "read_csv"]
    assert svc["path"] == ["sklearn", "svm", "SVC"]
    assert fit["path"] == ["sklearn", "svm", "SVC", "fit"]
    fl = _edges(nodes)
    # DATA-0 from the pandas import node into read_csv
    pimp = next(n for n in nodes if n.get("is_import")
                and n["path"] == ["pandas"])
    assert (pimp["node_number"], "0", read["node_number"]) in fl
    # DATA-0 from the sklearn.svm member-read chain into SVC
    svm_read = next(n for n in nodes if n["path"] == ["sklearn", "svm"]
                    and n.get("reads"))
    assert (svm_read["node_number"], "0", svc["node_number"]) in fl
    # receiver + args flow normally through the star binding
    assert (svc["node_number"], "0", fit["node_number"]) in fl
    assert (read["node_number"], "1", svc["node_number"]) in fl


def test_nested_branch_fork_join():
    """late r5 nested chains: an if inside an arm forks from the arm's
    frontier and joins within the arm; the outer join then unions the
    arm tails.  Dedent joins innermost-first."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import pandas\nimport numpy\n"
        "df = pandas.read_csv('t.csv')\n"
        "if a:\n"
        "    x = pandas.read_csv('a.csv')\n"
        "    if b:\n"
        "        y = pandas.DataFrame(x)\n"
        "    z = pandas.concat(x)\n"
        "else:\n"
        "    w = numpy.linspace(0, 1)\n"
        "out = pandas.read_csv('u.csv')\n"
    )
    nodes = extract_page_flow_nodes("http://q/nest1", [code], cat)
    by_vn = {n["value_names"][0]: n for n in nodes if n["value_names"]}
    df, x, y, z, w, out = (by_vn[k] for k in ("df", "x", "y", "z", "w", "out"))
    # outer fork: df precedes both arm heads, not the nested body
    assert sorted(df["immediately_precedes"]) == sorted(
        [x["node_number"], w["node_number"]]
    )
    # inner fork from x; inner join at z unions y + x fall-through
    assert sorted(x["immediately_precedes"]) == sorted(
        [y["node_number"], z["node_number"]]
    )
    assert y["immediately_precedes"] == [z["node_number"]]
    # outer join at out: z tail + w tail, no df fall-through (else)
    assert z["immediately_precedes"] == [out["node_number"]]
    assert w["immediately_precedes"] == [out["node_number"]]
    assert out["node_number"] not in df["immediately_precedes"]


def test_nested_branch_phi_union():
    """late r5: phi composes through nesting — an inner rebind unions
    with the outer arm's binding, then the outer join unions with the
    else arm, so the post-join receiver call sees all three ctors."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import sklearn\n"
        "if a:\n"
        "    m = sklearn.svm.SVC(1)\n"
        "    if b:\n"
        "        m = sklearn.svm.SVC(2)\n"
        "else:\n"
        "    m = sklearn.svm.SVC(3)\n"
        "m.fit(X)\n"
    )
    nodes = extract_page_flow_nodes("http://q/nest2", [code], cat)
    svcs = [n for n in nodes if n["path"] == ["sklearn", "svm", "SVC"]]
    fits = [n for n in nodes if n["path"] == ["sklearn", "svm", "SVC", "fit"]]
    assert len(svcs) == 3 and len(fits) == 1
    fl = _edges(nodes)
    for ctor in svcs:
        assert (ctor["node_number"], "0", fits[0]["node_number"]) in fl


def test_def_body_branch_fork_join_phi():
    """late r5: fork-join frames open inside DEF bodies — arms fork
    from the body frontier, bindings phi under the body env, and the
    post-join body consumer sees both arm producers.  The def's frames
    drain at its close, so the outer scope is untouched."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import pandas\nimport sklearn\n"
        "def pick(d):\n"
        "    if flag:\n"
        "        m = sklearn.svm.SVC(1)\n"
        "    else:\n"
        "        m = sklearn.svm.SVC(2)\n"
        "    r = m.fit(d, 1)\n"
        "df = pandas.read_csv('x.csv')\n"
        "pick(df)\n"
    )
    nodes = extract_page_flow_nodes("http://q/defphi1", [code], cat)
    svcs = [n for n in nodes if n["path"] == ["sklearn", "svm", "SVC"]]
    fits = [n for n in nodes if n["path"] == ["sklearn", "svm", "SVC", "fit"]]
    read = next(n for n in nodes if n["path"] == ["pandas", "read_csv"])
    assert len(svcs) == 2 and len(fits) == 1
    fl = _edges(nodes)
    # phi inside the body: one fit node, receiver DATA-0 from both ctors
    for ctor in svcs:
        assert (ctor["node_number"], "0", fits[0]["node_number"]) in fl
    # interprocedural arg wiring still works: the call-site df reaches
    # the body's fit arg
    assert (read["node_number"], "1", fits[0]["node_number"]) in fl
    # control: arms fork, join at the post-chain body call
    assert svcs[0]["immediately_precedes"] == [fits[0]["node_number"]]
    assert svcs[1]["immediately_precedes"] == [fits[0]["node_number"]]


def test_def_body_frames_drain_at_close():
    """late r5: a def whose body ENDS inside an open arm drains its
    frames under the body env — the next top-level statement is not
    treated as a join of the def-local chain (no cross-scope edges)."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import pandas\nimport numpy\n"
        "def load(p):\n"
        "    if flag:\n"
        "        x = pandas.read_csv(p)\n"
        "out = numpy.linspace(0, 1)\n"
        "df = pandas.read_csv('y.csv')\n"
    )
    nodes = extract_page_flow_nodes("http://q/defphi2", [code], cat)
    by_vn = {n["value_names"][0]: n for n in nodes if n["value_names"]}
    x, out, df = by_vn["x"], by_vn["out"], by_vn["df"]
    # the body call never precedes the top-level statements (the def's
    # chain is internal; call-site chaining is what links bodies in)
    assert out["node_number"] not in x["immediately_precedes"]
    assert df["node_number"] not in x["immediately_precedes"]
    # top-level flow unaffected
    assert out["immediately_precedes"] == [df["node_number"]]


def test_return_phi_union_at_call_site():
    """late r5 return phi: a def whose arms return different producers
    binds the caller's lhs as a member union, so a later method call
    resolves through the union points-to receiver (both ctors feed the
    fit's DATA-0)."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import sklearn\n"
        "def mk(flag):\n"
        "    if flag:\n"
        "        m = sklearn.svm.SVC(1)\n"
        "        return m\n"
        "    else:\n"
        "        m2 = sklearn.svm.SVC(2)\n"
        "        return m2\n"
        "clf = mk(x)\n"
        "clf.fit(d)\n"
    )
    nodes = extract_page_flow_nodes("http://q/retphi1", [code], cat)
    svcs = [n for n in nodes if n["path"] == ["sklearn", "svm", "SVC"]]
    fits = [n for n in nodes if n["path"] == ["sklearn", "svm", "SVC", "fit"]]
    assert len(svcs) == 2 and len(fits) == 1
    fl = _edges(nodes)
    for ctor in svcs:
        assert (ctor["node_number"], "0", fits[0]["node_number"]) in fl


def test_single_return_still_precise():
    """A def with one return keeps the precise producer+class binding
    (no spurious member union)."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import sklearn\n"
        "def mk():\n"
        "    m = sklearn.svm.SVC(1)\n"
        "    return m\n"
        "clf = mk()\n"
        "clf.fit(d)\n"
    )
    nodes = extract_page_flow_nodes("http://q/retphi2", [code], cat)
    svcs = [n for n in nodes if n["path"] == ["sklearn", "svm", "SVC"]]
    fits = [n for n in nodes if n["path"] == ["sklearn", "svm", "SVC", "fit"]]
    assert len(svcs) == 1 and len(fits) == 1
    fl = _edges(nodes)
    assert (svcs[0]["node_number"], "0", fits[0]["node_number"]) in fl


def test_for_loop_fork_join_phi():
    """late r5: `for v in x:` bodies fork like a while — zero-iteration
    fall-through at the join, loop-header phi of body rebinds with pre
    bindings, and the iterable call of `for v in f(...):` (which always
    runs) stays on the pre frontier."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import pandas\n"
        "df = pandas.read_csv('a.csv')\n"
        "for row in df:\n"
        "    acc = pandas.DataFrame(row)\n"
        "out = pandas.concat(df)\n"
    )
    nodes = extract_page_flow_nodes("http://q/forjoin1", [code], cat)
    read = next(n for n in nodes if n["path"] == ["pandas", "read_csv"])
    body = next(n for n in nodes if n["path"] == ["pandas", "DataFrame"])
    out = next(n for n in nodes if n["path"] == ["pandas", "concat"])
    # fork into the body AND zero-iteration fall-through to the join
    assert sorted(read["immediately_precedes"]) == sorted(
        [body["node_number"], out["node_number"]]
    )
    assert body["immediately_precedes"] == [out["node_number"]]

    # for-over-call: the iterable call always runs — it precedes both
    # the body and the join; the join does not reach back past it
    code2 = (
        "import pandas\n"
        "seed = pandas.read_csv('s.csv')\n"
        "for chunk in pandas.read_csv('c.csv'):\n"
        "    acc = pandas.DataFrame(chunk)\n"
        "out = pandas.concat(seed)\n"
    )
    nodes2 = extract_page_flow_nodes("http://q/forjoin2", [code2], cat)
    reads2 = [n for n in nodes2 if n["path"] == ["pandas", "read_csv"]]
    seed2 = next(n for n in reads2 if "s.csv" in
                 n["constant_positional_args"].values())
    iter2 = next(n for n in reads2 if "c.csv" in
                 n["constant_positional_args"].values())
    body2 = next(n for n in nodes2 if n["path"] == ["pandas", "DataFrame"])
    out2 = next(n for n in nodes2 if n["path"] == ["pandas", "concat"])
    assert seed2["immediately_precedes"] == [iter2["node_number"]]
    assert sorted(iter2["immediately_precedes"]) == sorted(
        [body2["node_number"], out2["node_number"]]
    )
    assert body2["immediately_precedes"] == [out2["node_number"]]


def test_early_return_kills_arm_path():
    """late r5 early exit: an arm ending in `return` exits the function
    past the join — it contributes neither control edges nor bindings
    to the post-chain code (the `if x: return ...` guard pattern)."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import sklearn\nimport pandas\n"
        "def mk(flag, d):\n"
        "    if flag:\n"
        "        m = sklearn.svm.SVC(1)\n"
        "        return m\n"
        "    m2 = sklearn.svm.SVC(2)\n"
        "    r = m2.fit(d, 1)\n"
        "df = pandas.read_csv('x.csv')\n"
        "mk(1, df)\n"
    )
    nodes = extract_page_flow_nodes("http://q/early1", [code], cat)
    svcs = sorted((n for n in nodes
                   if n["path"] == ["sklearn", "svm", "SVC"]),
                  key=lambda n: n["node_number"])
    fits = [n for n in nodes if n["path"] == ["sklearn", "svm", "SVC", "fit"]]
    assert len(svcs) == 2 and len(fits) == 1
    fl = _edges(nodes)
    # the returning arm's ctor does NOT precede the fall-through code
    assert svcs[1]["node_number"] not in svcs[0]["immediately_precedes"]
    # and its binding does not leak: fit's receiver is m2 only
    assert (svcs[1]["node_number"], "0", fits[0]["node_number"]) in fl
    assert (svcs[0]["node_number"], "0", fits[0]["node_number"]) not in fl


def test_raise_kills_arm_path():
    """late r5: a raising arm exits past the join — no control edge
    into the post-chain call and no binding leak."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import pandas\nimport numpy\n"
        "df = pandas.read_csv('a.csv')\n"
        "if bad:\n"
        "    x = numpy.linspace(0, 1)\n"
        "    raise ValueError(x)\n"
        "out = pandas.concat(df)\n"
    )
    nodes = extract_page_flow_nodes("http://q/early2", [code], cat)
    by_vn = {n["value_names"][0]: n for n in nodes if n["value_names"]}
    df, x, out = by_vn["df"], by_vn["x"], by_vn["out"]
    assert out["node_number"] not in x["immediately_precedes"]
    # fall-through still flows: df precedes both the arm head and out
    assert sorted(df["immediately_precedes"]) == sorted(
        [x["node_number"], out["node_number"]]
    )


def test_return_phi_still_collects_from_dead_arms():
    """Early exits kill the JOIN path but the per-arm returns still
    union at call sites (return phi is about the function's exits, not
    the join)."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import sklearn\n"
        "def mk(flag):\n"
        "    if flag:\n"
        "        m = sklearn.svm.SVC(1)\n"
        "        return m\n"
        "    m2 = sklearn.svm.SVC(2)\n"
        "    return m2\n"
        "clf = mk(x)\n"
        "clf.fit(d)\n"
    )
    nodes = extract_page_flow_nodes("http://q/early3", [code], cat)
    svcs = [n for n in nodes if n["path"] == ["sklearn", "svm", "SVC"]]
    fits = [n for n in nodes if n["path"] == ["sklearn", "svm", "SVC", "fit"]]
    assert len(svcs) == 2 and len(fits) == 1
    fl = _edges(nodes)
    for ctor in svcs:
        assert (ctor["node_number"], "0", fits[0]["node_number"]) in fl


def test_lambda_desugars_to_local_def():
    """late r5: a top-level `f = lambda p: EXPR` desugars into the
    equivalent local def, so call sites wire args and return values
    through the existing interprocedural machinery — bit-identical to
    the `def f(p): return EXPR` form."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    lam_code = (
        "import pandas\n"
        "mk = lambda p: pandas.read_csv(p)\n"
        "df = mk('a.csv')\n"
        "out = pandas.DataFrame(df)\n"
    )
    def_code = (
        "import pandas\n"
        "def mk(p):\n"
        "    return pandas.read_csv(p)\n"
        "df = mk('a.csv')\n"
        "out = pandas.DataFrame(df)\n"
    )
    lam_nodes = extract_page_flow_nodes("http://q/lam", [lam_code], cat)
    def_nodes = extract_page_flow_nodes("http://q/lam", [def_code], cat)
    # source spans legitimately differ (the lambda is one physical line,
    # the def form two) — strip location-carrying keys, compare semantics
    strip = lambda ns: [
        {k: v for k, v in n.items()
         if k not in ("source_location", "source_lines")}
        for n in ns
    ]
    assert strip(lam_nodes) == strip(def_nodes)
    # and the value flow is real: body read feeds the call-site binding
    # which feeds the next ctor
    read = next(n for n in lam_nodes if n["path"] == ["pandas", "read_csv"])
    ctor = next(n for n in lam_nodes if n["path"] == ["pandas", "DataFrame"])
    assert ctor["node_number"] in read["flows_to"].get("1", [])


def test_bare_decorator_mints_def_site_call():
    """late r5: a bare `@mod.deco` line desugars into the call statement
    `mod.deco()` (Python applies the decorator at def time), so a
    catalog-rooted decorator mints its call node in the def-site control
    flow; uncataloged decorators stay out, matrix-multiply `a @ b` is
    untouched, and the decorated def's interprocedural wiring keeps its
    own name binding (wrapper identity is the documented subset)."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import numpy\n"
        "@numpy.vectorize\n"
        "def f(x):\n"
        "    return numpy.log(x)\n"
        "@staticmethod\n"
        "def g(x):\n"
        "    return x\n"
        "v = numpy.array([1])\n"
        "y = f(v)\n"
        "z = a @ b\n"
    )
    nodes = extract_page_flow_nodes("http://q/deco", [code], cat)
    paths = [tuple(n["path"]) for n in nodes if not n["is_import"]]
    # decorator call minted once; @staticmethod (uncataloged) absent
    assert paths.count(("numpy", "vectorize")) == 1
    deco = next(n for n in nodes if n["path"] == ["numpy", "vectorize"])
    arr = next(n for n in nodes if n["path"] == ["numpy", "array"])
    # def-site control flow: the decorator call precedes the next
    # top-level call (def registration emits no control node)
    assert arr["node_number"] in deco["immediately_precedes"]
    # interprocedural wiring survives: array flows into the body's log
    log = next(n for n in nodes if n["path"] == ["numpy", "log"])
    assert log["node_number"] in arr["flows_to"].get("1", [])
    # matrix-multiply minted nothing
    assert all("@" not in "".join(p) for p in paths)


def test_decorator_factory_keeps_plain_call_path():
    """A parenthesized decorator factory (`@deco('arg')`) flows through
    the plain call path — factory call node with its constant arg; the
    applied-result invoke is the documented subset."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import numpy\n"
        "@numpy.vectorize('sig')\n"
        "def f(x):\n"
        "    return x\n"
    )
    nodes = extract_page_flow_nodes("http://q/decofac", [code], cat)
    deco = next(n for n in nodes if n["path"] == ["numpy", "vectorize"])
    assert deco["constant_positional_args"].get("1") == "sig"


def test_annotated_assignment_keeps_binding():
    """late r5: `df: pd.DataFrame = RHS` desugars to `df = RHS` — type
    hints carry no runtime dataflow, and erasing them keeps the binding
    so later turtle extensions on df survive.  One-line compound
    clauses (`else: y = 1`) stay out via the keyword guard."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    annotated = (
        "import pandas\n"
        "df: pandas.DataFrame = pandas.read_csv('a.csv')\n"
        "y = df.dropna()\n"
    )
    plain = (
        "import pandas\n"
        "df = pandas.read_csv('a.csv')\n"
        "y = df.dropna()\n"
    )
    a_nodes = extract_page_flow_nodes("http://q/ann", [annotated], cat)
    p_nodes = extract_page_flow_nodes("http://q/ann", [plain], cat)
    # source spans legitimately keep the sugar line — compare semantics
    strip = lambda ns: [
        {k: v for k, v in n.items()
         if k not in ("source_text", "source_lines", "source_location")}
        for n in ns
    ]
    assert strip(a_nodes) == strip(p_nodes)
    assert any(n["path"] == ["pandas", "read_csv", "dropna"]
               for n in a_nodes)


def test_semicolon_compound_line_splits():
    """late r5: top-level `;` splits a line into its statements
    (quote/paren-aware), so `import pandas; df = pd.read_csv('a')`
    tracks like the multi-line form; one-line compound bodies
    (`if x: a; b`) keep their single statement (subset)."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    one_line = "import pandas; df = pandas.read_csv('a.csv'); y = df.dropna()\n"
    multi = "import pandas\ndf = pandas.read_csv('a.csv')\ny = df.dropna()\n"
    o_nodes = extract_page_flow_nodes("http://q/semi", [one_line], cat)
    m_nodes = extract_page_flow_nodes("http://q/semi", [multi], cat)
    strip = lambda ns: [
        {k: v for k, v in n.items()
         if k not in ("source_text", "source_lines", "source_location")}
        for n in ns
    ]
    assert strip(o_nodes) == strip(m_nodes)
    # a semicolon inside a string must not split
    s_nodes = extract_page_flow_nodes(
        "http://q/semi2",
        ["import pandas\ndf = pandas.read_csv('a;b.csv')\n"], cat)
    csv = next(n for n in s_nodes if n["path"] == ["pandas", "read_csv"])
    assert csv["constant_positional_args"].get("1") == "a;b.csv"


def test_phi_union_turtle_extension():
    """late r5: an uncataloged method on a phi'd binding whose members
    all share ONE turtle path extends that path once, fed DATA-0 by
    every member (WALA's phi value feeding the invoke) — `if c: df =
    read_csv(a) else: df = read_csv(b)` then `df.dropna()` → one dropna
    node with two receiver edges.  Disagreeing member paths stay out,
    and plain container literals never resolve this way."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    agree = (
        "import pandas\n"
        "if c:\n"
        "    df = pandas.read_csv('a.csv')\n"
        "else:\n"
        "    df = pandas.read_csv('b.csv')\n"
        "z = df.dropna()\n"
    )
    nodes = extract_page_flow_nodes("http://q/phi1", [agree], cat)
    drops = [n for n in nodes
             if n["path"] == ["pandas", "read_csv", "dropna"]]
    assert len(drops) == 1
    reads = [n for n in nodes if n["path"] == ["pandas", "read_csv"]]
    for r in reads:
        assert drops[0]["node_number"] in r["flows_to"].get("0", [])
    # same shape through a try/except rebind (the G5 sibling)
    tryexc = (
        "import pandas\n"
        "try:\n"
        "    df = pandas.read_csv('a.csv')\n"
        "except IOError as e:\n"
        "    df = pandas.read_csv('b.csv')\n"
        "z = df.dropna()\n"
    )
    tnodes = extract_page_flow_nodes("http://q/phi2", [tryexc], cat)
    assert sum(n["path"] == ["pandas", "read_csv", "dropna"]
               for n in tnodes) == 1
    # disagreeing paths: no node (honest bound)
    disagree = agree.replace("pandas.read_csv('b.csv')",
                             "pandas.DataFrame(x)")
    dnodes = extract_page_flow_nodes("http://q/phi3", [disagree], cat)
    assert not any("dropna" in (n["path"] or []) for n in dnodes)
    # container literal: calling a method on the LIST is not calling
    # the members — no extension
    cont = (
        "import pandas\n"
        "a = pandas.read_csv('a.csv')\n"
        "b = pandas.read_csv('b.csv')\n"
        "v = [a, b]\n"
        "z = v.dropna()\n"
    )
    cnodes = extract_page_flow_nodes("http://q/phi4", [cont], cat)
    assert not any("dropna" in (n["path"] or []) for n in cnodes)


def test_del_unbinds():
    """late r5: `del a, b` drops every binding — a post-del use is an
    unresolved read in WALA, so no stale producer may cross-wire."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import pandas\n"
        "df = pandas.read_csv('a.csv')\n"
        "del df\n"
        "y = df.dropna()\n"
    )
    nodes = extract_page_flow_nodes("http://q/del", [code], cat)
    assert not any("dropna" in (n["path"] or []) for n in nodes)


def test_backslash_continuation_splices():
    """late r5: explicit `\\` continuations splice token-tight into one
    logical statement (`x = pandas.\\` + `    read_csv(…)` keeps the
    dotted name whole), with the source span covering both physical
    lines; later turtle extensions on the binding survive."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import pandas\n"
        "x = pandas.\\\n"
        "    read_csv('a.csv')\n"
        "y = x.dropna()\n"
    )
    nodes = extract_page_flow_nodes("http://q/bslash", [code], cat)
    read = next(n for n in nodes if n["path"] == ["pandas", "read_csv"])
    assert read["source_location"]["first_line"] == 2
    assert read["source_location"]["last_line"] == 3
    assert any(n["path"] == ["pandas", "read_csv", "dropna"]
               for n in nodes)
    # a `\\` before a CRLF line end splices the same way
    crlf = extract_page_flow_nodes(
        "http://q/bslash-crlf", [code.replace("\n", "\r\n")], cat)
    assert [n["path"][-1] for n in crlf] == ["pandas", "read_csv", "dropna"]
    assert crlf[1]["flows_to"]["0"] == [crlf[2]["node_number"]]


def test_walrus_binding_hoists():
    """late r5: `(name := EXPR)` hoists into `name = EXPR` before the
    statement with the group replaced by the bare name — the walrus
    binds in the enclosing scope when the expression evaluates, so a
    guarded read (`if (df := read_csv(...)) is not None:`) tracks df
    inside the arm exactly like the two-line form."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import pandas\n"
        "if (df := pandas.read_csv('a.csv')) is not None:\n"
        "    y = df.dropna()\n"
    )
    nodes = extract_page_flow_nodes("http://q/walrus", [code], cat)
    read = next(n for n in nodes if n["path"] == ["pandas", "read_csv"])
    drop = next(n for n in nodes if n["path"] == ["pandas", "read_csv", "dropna"])
    assert drop["node_number"] in read["flows_to"].get("0", [])


def test_lambda_as_call_argument_hoists():
    """late r5: a lambda passed as a call argument hoists into a
    synthetic def — the body's module-rooted calls mint shared nodes,
    and the outer call still resolves on its own receiver.  The library
    invoking the callback stays out of scope (G6 subset), so no return
    edge flows into the outer call."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import pandas\n"
        "df = pandas.read_csv('a.csv')\n"
        "out = df.apply(lambda x: pandas.notnull(x))\n"
    )
    nodes = extract_page_flow_nodes("http://q/lamarg", [code], cat)
    paths = [tuple(n["path"]) for n in nodes]
    assert ("pandas", "notnull") in paths
    apply_n = next(n for n in nodes
                   if n["path"] == ["pandas", "read_csv", "apply"])
    assert "out" in apply_n["value_names"]
    read = next(n for n in nodes if n["path"] == ["pandas", "read_csv"])
    # the turtle receiver still feeds apply at DATA-0
    assert apply_n["node_number"] in read["flows_to"].get("0", [])
    # no edge from the callback body into apply (invocation out of scope)
    notnull = next(n for n in nodes if n["path"] == ["pandas", "notnull"])
    assert apply_n["node_number"] not in {
        d for ds in notnull["flows_to"].values() for d in ds
    }
    # keyword-passed lambda over an untracked iterable: hoists cleanly,
    # nothing extra minted
    code2 = (
        "import pandas\n"
        "s = sorted(xs, key=lambda r: r[1])\n"
        "t = pandas.read_csv('b.csv')\n"
    )
    nodes2 = extract_page_flow_nodes("http://q/lamarg2", [code2], cat)
    assert [tuple(n["path"]) for n in nodes2] == [
        ("pandas",), ("pandas", "read_csv")]


def test_chained_assignment_binds_every_target():
    """late r5: `a = b = Ctor()` desugars into `b = Ctor()` + `a = b`
    (Python assigns every target the same object), so method calls on
    EITHER name resolve against the one ctor."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import sklearn\n"
        "a = b = sklearn.svm.SVC()\n"
        "a.fit(1)\n"
        "b.fit(2)\n"
    )
    nodes = extract_page_flow_nodes("http://q/chain", [code], cat)
    svc = next(n for n in nodes if n["path"] == ["sklearn", "svm", "SVC"])
    fits = [n for n in nodes
            if n["path"] == ["sklearn", "svm", "SVC", "fit"]]
    assert len(fits) == 2
    for f in fits:
        assert f["node_number"] in svc["flows_to"]["0"]
    # comparison stays a comparison: `a = b == c` must NOT alias
    code2 = (
        "import pandas\n"
        "b = pandas.read_csv('x.csv')\n"
        "a = b == c\n"
        "pandas.DataFrame(a)\n"
    )
    nodes2 = extract_page_flow_nodes("http://q/chain2", [code2], cat)
    read = next(n for n in nodes2 if n["path"] == ["pandas", "read_csv"])
    ctor = next(n for n in nodes2 if n["path"] == ["pandas", "DataFrame"])
    # `==` produces an untracked bool frame in this subset — no flow
    assert ctor["node_number"] not in {
        d for ds in read["flows_to"].values() for d in ds
    }


def test_boolop_phi_unions_operands():
    """late r5: `m = a or b` returns ONE of the operands, so the binding
    is the ternary-style phi — agreeing classes resolve a later method
    call fed by every arm; disagreeing classes mint nothing; all tracked
    operands flow into a consuming call's arg ordinal."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    agree = (
        "import sklearn\n"
        "m1 = sklearn.svm.SVC(C=1)\n"
        "m2 = sklearn.svm.SVC(C=2)\n"
        "m = m1 or m2\n"
        "m.fit(1)\n"
    )
    nodes = extract_page_flow_nodes("http://q/bool1", [agree], cat)
    svcs = [n for n in nodes if n["path"] == ["sklearn", "svm", "SVC"]]
    fits = [n for n in nodes
            if n["path"] == ["sklearn", "svm", "SVC", "fit"]]
    assert len(svcs) == 2 and len(fits) == 1
    for ctor in svcs:
        assert fits[0]["node_number"] in ctor["flows_to"]["0"]

    disagree = agree.replace("sklearn.svm.SVC(C=2)",
                             "sklearn.linear_model.LinearRegression()")
    nodes2 = extract_page_flow_nodes("http://q/bool2", [disagree], cat)
    assert not [n for n in nodes2 if n["path"][-1] == "fit"]

    chain = (
        "import pandas\n"
        "d1 = pandas.read_csv('a.csv')\n"
        "d2 = pandas.read_csv('b.csv')\n"
        "d3 = pandas.read_csv('c.csv')\n"
        "d = d1 and d2 or d3\n"
        "pandas.DataFrame(d)\n"
    )
    nodes3 = extract_page_flow_nodes("http://q/bool3", [chain], cat)
    ctor = next(n for n in nodes3 if n["path"] == ["pandas", "DataFrame"])
    reads = [n for n in nodes3 if n["path"] == ["pandas", "read_csv"]]
    assert len(reads) == 3
    for r in reads:
        assert ctor["node_number"] in r["flows_to"]["1"]


def test_multi_manager_with_binds_each():
    """late r5: `with A() as a, B() as b:` desugars into consecutive
    single-manager withs — each name binds its own manager's value."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import pandas\n"
        "with pandas.read_csv('a.csv') as fa, pandas.read_csv('b.csv') as fb:\n"
        "    out = pandas.DataFrame(fa, fb)\n"
    )
    nodes = extract_page_flow_nodes("http://q/mw", [code], cat)
    reads = [n for n in nodes if n["path"] == ["pandas", "read_csv"]]
    ctor = next(n for n in nodes if n["path"] == ["pandas", "DataFrame"])
    assert [r["value_names"] for r in reads] == [["fa"], ["fb"]]
    # fa feeds arg 1, fb feeds arg 2 — per-manager, not unioned
    assert ctor["node_number"] in reads[0]["flows_to"]["1"]
    assert ctor["node_number"] in reads[1]["flows_to"]["2"]


def test_literal_tuple_unpack_element_wise():
    """late r5: `a, b = X(), Y()` binds each target to ITS OWN rhs
    producer (rhs evaluated fully first, so a swap is exact), user
    names reach value_names, and a single-call rhs keeps the existing
    element-node path."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    code = (
        "import pandas\nimport sklearn\n"
        "tr, m = pandas.read_csv('a.csv'), sklearn.svm.SVC()\n"
        "m.fit(tr)\n"
    )
    nodes = extract_page_flow_nodes("http://q/tu", [code], cat)
    read = next(n for n in nodes if n["path"] == ["pandas", "read_csv"])
    svc = next(n for n in nodes if n["path"] == ["sklearn", "svm", "SVC"])
    fit = next(n for n in nodes if n["path"] == ["sklearn", "svm", "SVC", "fit"])
    assert read["value_names"] == ["tr"] and svc["value_names"] == ["m"]
    assert fit["node_number"] in svc["flows_to"]["0"]      # receiver
    assert fit["node_number"] in read["flows_to"]["1"]     # arg 1

    swap = (
        "import pandas\nimport sklearn\n"
        "a = pandas.read_csv('a.csv')\n"
        "b = sklearn.svm.SVC()\n"
        "a, b = b, a\n"
        "a.fit(1)\n"
        "pandas.DataFrame(b)\n"
    )
    nodes2 = extract_page_flow_nodes("http://q/sw", [swap], cat)
    read2 = next(n for n in nodes2 if n["path"] == ["pandas", "read_csv"])
    svc2 = next(n for n in nodes2 if n["path"] == ["sklearn", "svm", "SVC"])
    fit2 = next(n for n in nodes2 if n["path"][-1] == "fit")
    df2 = next(n for n in nodes2 if n["path"] == ["pandas", "DataFrame"])
    assert fit2["node_number"] in svc2["flows_to"]["0"]
    assert df2["node_number"] in read2["flows_to"]["1"]

    single = (
        "import sklearn\n"
        "tr, te = sklearn.model_selection.train_test_split(x)\n"
    )
    nodes3 = extract_page_flow_nodes("http://q/sg", [single], cat)
    elems = [n for n in nodes3 if n["path"][-1] in ("0", "1")]
    assert [e["value_names"] for e in elems] == [["tr"], ["te"]]


def test_condition_call_hoist():
    """`if df.dropna() is not None:` / `while m.head() is None:` (final
    r5): a dotted call in an if/while condition hoists into a temp just
    before the head — the condition evaluates on the pre path, so the
    node set is bit-identical to the explicit two-line form modulo the
    temp name; chains unwind recursively; calls inside string literals
    and bare (dotless) callees stay put."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    strip = lambda ns: [  # noqa: E731
        (tuple(n["path"]), n["is_import"],
         tuple(sorted((k, tuple(v)) for k, v in n["flows_to"].items())))
        for n in ns
    ]
    one = extract_page_flow_nodes(
        "http://q/1",
        ["import pandas\ndf = pandas.read_csv('t.csv')\n"
         "if df.isnull().sum() > 0:\n    g = df.dropna()\n"],
        cat,
    )
    two = extract_page_flow_nodes(
        "http://q/1",
        ["import pandas\ndf = pandas.read_csv('t.csv')\n"
         "t0 = df.isnull()\nt1 = t0.sum()\n"
         "if t1 > 0:\n    g = df.dropna()\n"],
        cat,
    )
    assert strip(one) == strip(two)
    # no temp leaks; condition nodes are unnamed intermediates
    assert all(not v.startswith("_sub") for n in one
               for v in n["value_names"])
    isn = next(n for n in one if n["path"][-1] == "isnull")
    assert isn["value_names"] == []
    # while: same hoist, one-unrolling placement before the head
    w = extract_page_flow_nodes(
        "http://q/w",
        ["import pandas\ndf = pandas.read_csv('t.csv')\n"
         "while df.head() is None:\n    x = 1\n"],
        cat,
    )
    assert any(n["path"][-1] == "head" for n in w)
    # a call spelled inside a string literal must NOT mint
    s = extract_page_flow_nodes(
        "http://q/s",
        ["import pandas\ndf = pandas.read_csv('t.csv')\n"
         "if 'df.dropna(x)' in df:\n    y = 1\n"],
        cat,
    )
    assert not any(n["path"][-1] == "dropna" for n in s)
    # dotless callee (len) stays put; its dotted ARG still hoists
    ln = extract_page_flow_nodes(
        "http://q/l",
        ["import pandas\ndf = pandas.read_csv('t.csv')\n"
         "if len(df.dropna()) > 0:\n    y = 1\n"],
        cat,
    )
    assert any(n["path"][-1] == "dropna" for n in ln)
    assert not any(n["path"][-1] == "len" for n in ln)


def test_subscript_write_chain_rhs():
    """`df['z'] = df['a'].apply(str)` (final r5): a chain RHS behind a
    string-keyed subscript WRITE target hoists into a temp, minting the
    field read + chain-final call AND the `z` field write on the
    target's producer — bit-identical to the two-line form."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    strip = lambda ns: [  # noqa: E731
        (tuple(n["path"]),
         tuple(sorted((k, tuple(v)) for k, v in n["flows_to"].items())),
         tuple((tuple(r["container"] or []), r["field"]) for r in n["reads"]),
         tuple((tuple(w["container"] or []), w["field"]) for w in n["writes"]))
        for n in ns
    ]
    one = extract_page_flow_nodes(
        "http://q/1",
        ["import pandas\ndf = pandas.read_csv('t.csv')\n"
         "df['z'] = df['a'].values\n"],
        cat,
    )
    two = extract_page_flow_nodes(
        "http://q/1",
        ["import pandas\ndf = pandas.read_csv('t.csv')\n"
         "t = df['a'].values\ndf['z'] = t\n"],
        cat,
    )
    assert strip(one) == strip(two)
    rd = next(n for n in one if n["path"][-1] == "a")
    assert rd["reads"] == [{"container": [1], "field": "a"}]
    vals = next(n for n in one if n["path"][-1] == "values")
    assert vals["value_names"] == []
    prod = next(n for n in one if n["value_names"] == ["df"])
    assert {"container": None, "field": "z"} in prod["writes"]


def test_condition_read_hoist():
    """`if df.empty:` / `if df['a'] is None:` (final r5): a field access
    on a TRACKED base in an if/while condition hoists like the condition
    calls, minting the read node the assignment form mints; module paths
    (isinstance's `pd.DataFrame`) and untracked bases stay out; a
    subscript's trailing chain unwinds recursively."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    attr = extract_page_flow_nodes(
        "http://q/1",
        ["import pandas\ndf = pandas.read_csv('t.csv')\n"
         "if df.empty:\n    y = 1\n"],
        cat,
    )
    emp = next(n for n in attr if n["path"][-1] == "empty")
    assert emp["reads"] == [{"container": [1], "field": "empty"}]
    assert emp["value_names"] == []
    sub = extract_page_flow_nodes(
        "http://q/2",
        ["import pandas\ndf = pandas.read_csv('t.csv')\n"
         "if df['a'].sum() > 0:\n    y = 1\n"],
        cat,
    )
    rd = next(n for n in sub if n["path"][-1] == "a")
    sm = next(n for n in sub if n["path"][-1] == "sum")
    assert sm["node_number"] in rd["flows_to"]["0"]
    # guards: module path in isinstance and untracked dict stay silent
    iso = extract_page_flow_nodes(
        "http://q/3",
        ["import pandas\ndf = pandas.read_csv('t.csv')\n"
         "if isinstance(df, pandas.DataFrame):\n    y = 1\n"],
        cat,
    )
    assert not any(n["path"][-1] == "DataFrame" for n in iso)
    unt = extract_page_flow_nodes(
        "http://q/4", ["cfg = {}\nif cfg['x'] is None:\n    y = 1\n"], cat,
    )
    assert unt == []


def test_augmented_field_target():
    """`df['a'] += 1` / `df.a *= 2` (final r5): augmented assignment
    onto a field target desugars into the exact read-then-write
    two-line form — the field-read node mints and the store lands on
    the base's producer, bit-identical to the explicit form."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    strip = lambda ns: [  # noqa: E731
        (tuple(n["path"]),
         tuple((tuple(r["container"] or []), r["field"]) for r in n["reads"]),
         tuple((tuple(w["container"] or []), w["field"]) for w in n["writes"]))
        for n in ns
    ]
    for aug, twoline in [
        ("df['a'] += 1\n", "t = df['a']\ndf['a'] = t + 1\n"),
        ("df.a *= 2\n", "t = df.a\ndf.a = t * 2\n"),
    ]:
        pre = "import pandas\ndf = pandas.read_csv('t.csv')\n"
        one = extract_page_flow_nodes("http://q/1", [pre + aug], cat)
        two = extract_page_flow_nodes("http://q/1", [pre + twoline], cat)
        assert strip(one) == strip(two), aug
        prod = next(n for n in one if n["value_names"] == ["df"])
        assert prod["writes"], aug
        assert all(not v.startswith("_sub") for n in one
                   for v in n["value_names"])


def test_call_subscript_chain():
    """`x = df.groupby('k')['v'].mean()` (final r5): a call followed by
    a subscript access hoists the call into a temp, so the field read
    and trailing chain mint — bit-identical to the two-line
    `g = df.groupby('k')` form modulo the temp name."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    strip = lambda ns: [  # noqa: E731
        (tuple(n["path"]),
         tuple(sorted((k, tuple(v)) for k, v in n["flows_to"].items())),
         tuple((tuple(r["container"] or []), r["field"]) for r in n["reads"]))
        for n in ns
    ]
    pre = "import pandas\ndf = pandas.read_csv('t.csv')\n"
    one = extract_page_flow_nodes(
        "http://q/1", [pre + "x = df.groupby('k')['v'].mean()\n"], cat)
    two = extract_page_flow_nodes(
        "http://q/1", [pre + "g = df.groupby('k')\nx = g['v'].mean()\n"], cat)
    assert strip(one) == strip(two)
    mean = next(n for n in one if n["path"][-1] == "mean")
    assert mean["value_names"] == ["x"]
    rd = next(n for n in one if n["path"][-1] == "v")
    assert mean["node_number"] in rd["flows_to"]["0"]


def test_binop_keyword_arg_expr_node():
    """`kernel=1.0 * RBF(1.0)` (example2.json node 102): a binop argument
    mints an `….RBF.expr` turtle with its constant operand at ordinal 0,
    fed by the RBF call at ordinal 1 and flowing into the constructor at
    the keyword's ordinal."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    got = extract_page_flow_nodes(
        "http://q/1",
        ["from sklearn.gaussian_process import GaussianProcessClassifier\n"
         "from sklearn.gaussian_process.kernels import RBF\n"
         "clf = GaussianProcessClassifier(kernel=1.0 * RBF(1.0))\n"], cat)
    ctor, rbf, expr = got[-3:]
    assert ctor["normalized_label"] == (
        "sklearn.gaussian_process.GaussianProcessClassifier")
    assert ctor["value_names"] == ["clf"]
    assert rbf["normalized_label"] == "sklearn.gaussian_process.kernels.RBF"
    assert rbf["constant_positional_args"] == {"1": "1.0"}
    assert expr["normalized_label"] == (
        "sklearn.gaussian_process.kernels.RBF.expr")
    assert expr["constant_positional_args"] == {"0": "1.0"}
    assert expr["source_text"] == "1.0 * RBF(1.0)"
    assert rbf["flows_to"] == {"1": [expr["node_number"]]}
    assert expr["flows_to"] == {"1": [ctor["node_number"]]}


def test_complex_index_inner_reads():
    """`df2 = df[df['a'] > 0]` / `df[df.a > 0]` (final r5): inner
    tracked accesses in a complex index hoist and mint their reads,
    while the mask selection itself keeps the path-unchanged selection
    binding — bit-identical to the two-line mask form."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    strip = lambda ns: [  # noqa: E731
        (tuple(n["path"]),
         tuple(sorted((k, tuple(v)) for k, v in n["flows_to"].items())),
         tuple((tuple(r["container"] or []), r["field"]) for r in n["reads"]))
        for n in ns
    ]
    pre = "import pandas\ndf = pandas.read_csv('t.csv')\n"
    one = extract_page_flow_nodes(
        "http://q/1", [pre + "df2 = df[df['a'] > 0]\n"], cat)
    two = extract_page_flow_nodes(
        "http://q/1", [pre + "m = df['a']\ndf2 = df[m > 0]\n"], cat)
    assert strip(one) == strip(two)
    rd = next(n for n in one if n["path"][-1] == "a")
    assert rd["reads"] == [{"container": [1], "field": "a"}]
    sel = next(n for n in one if n["value_names"] == ["df2"])
    assert sel["path"] == ["pandas", "read_csv"]
    # plain forms keep their existing shapes (no hoist, no extra nodes)
    plain = extract_page_flow_nodes("http://q/2", [pre + "x = df['a']\n"], cat)
    assert [n["path"][-1] for n in plain] == ["pandas", "read_csv", "a"]
    # example1 node 84: the index slices an attribute of a tracked value,
    # so the read → slice chain feeds the selection bound to X
    ex1 = extract_page_flow_nodes(
        "http://q/3", [pre + "X = df[df.columns[:len(df.columns)-1]]\n"], cat)
    assert [(n["path"], n["is_slice"], n["value_names"]) for n in ex1[2:]] == [
        (["pandas", "read_csv", "columns"], False, []),  # len()'s hoisted read
        (["pandas", "read_csv", "columns"], False, []),
        (["pandas", "read_csv", "columns"], True, []),
        (["pandas", "read_csv"], False, ["X"]),
    ]
    read, sl, sel = ex1[3:]
    assert read["reads"] == [{"container": [1], "field": "columns"}]
    assert read["constant_positional_args"] == {"1": "columns"}
    assert ex1[1]["flows_to"]["0"] == [2, 3, sel["node_number"]]
    assert read["flows_to"] == {"1": [sl["node_number"]]}
    assert sl["flows_to"] == {"1": [sel["node_number"]]}


def test_attr_chain_call_and_bracket_tails():
    """`x = t.str.lower()` on a tracked value and `x = df.iloc[0]['name']`
    (final r5): attr chains ENDING in a call split hop-by-hop into the
    AstPropertyReads + receiver call the tracker already mints, and a
    second bracket after a subscript access re-enters the chain desugar
    — both bit-identical to their fully split forms."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    strip = lambda ns: [  # noqa: E731
        (tuple(n["path"]),
         tuple(sorted((k, tuple(v)) for k, v in n["flows_to"].items())),
         tuple((tuple(r["container"] or []), r["field"]) for r in n["reads"]))
        for n in ns
    ]
    pre = "import pandas\ndf = pandas.read_csv('t.csv')\n"
    one = extract_page_flow_nodes(
        "http://q/1", [pre + "x = df['a'].str.lower()\n"], cat)
    two = extract_page_flow_nodes(
        "http://q/1",
        [pre + "t = df['a']\nt2 = t.str\nx = t2.lower()\n"], cat)
    assert strip(one) == strip(two)
    low = next(n for n in one if n["path"][-1] == "lower")
    assert low["value_names"] == ["x"]
    one = extract_page_flow_nodes(
        "http://q/2", [pre + "x = df.iloc[0]['name']\n"], cat)
    two = extract_page_flow_nodes(
        "http://q/2", [pre + "t = df.iloc[0]\nx = t['name']\n"], cat)
    assert strip(one) == strip(two)
    nm = next(n for n in one if n["path"][-1] == "name")
    assert nm["value_names"] == ["x"]
    # module-rooted chains keep the plain call path (guard holds)
    mod = extract_page_flow_nodes(
        "http://q/3", ["import pandas\nx = pandas.read_csv('t.csv')\n"], cat)
    assert [n["path"][-1] for n in mod] == ["pandas", "read_csv"]


def test_statement_form_chain_attribution():
    """`df['a'].plot()` / `df.plot.bar()` as bare STATEMENTS (final r5):
    the chain extends the turtle on df's value — before this, the bare
    `plot` tail token falsely catalog-matched matplotlib.pyplot.plot
    (dataflow attribution must win over tail-token guessing, as it
    already did in the assignment form).  Known containers and keyed
    stores keep the precise element-receiver machinery, untracked bases
    keep the old fall-through."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    pre = "import pandas\ndf = pandas.read_csv('t.csv')\n"
    sub = extract_page_flow_nodes("http://q/1", [pre + "df['a'].plot()\n"], cat)
    assert [tuple(n["path"]) for n in sub] == [
        ("pandas",), ("pandas", "read_csv"),
        ("pandas", "read_csv", "a"), ("pandas", "read_csv", "a", "plot"),
    ]
    attr = extract_page_flow_nodes("http://q/2", [pre + "df.plot.bar()\n"], cat)
    assert [tuple(n["path"]) for n in attr] == [
        ("pandas",), ("pandas", "read_csv"),
        ("pandas", "read_csv", "plot"), ("pandas", "read_csv", "plot", "bar"),
    ]
    # container element receivers stay precise
    cont = extract_page_flow_nodes(
        "http://q/3",
        ["import sklearn\nimport pandas\ndf = pandas.read_csv('t.csv')\n"
         "a = sklearn.svm.SVC()\nmodels = [a]\nmodels[0].fit(df)\n"],
        cat,
    )
    svc = next(n for n in cont if n["path"] == ["sklearn", "svm", "SVC"])
    fit = next(n for n in cont if n["path"] == ["sklearn", "svm", "SVC", "fit"])
    assert fit["node_number"] in svc["flows_to"]["0"]


def test_ternary_condition_read_hoist():
    """`x = 1 if df.empty else 2` (final r5): the ternary CONDITION
    always evaluates, so a tracked read in it hoists like an if-head
    condition; arm calls keep the existing member-union path; string
    payloads containing ` if ` never trigger the hoist."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    pre = "import pandas\ndf = pandas.read_csv('t.csv')\n"
    got = extract_page_flow_nodes(
        "http://q/1", [pre + "x = 1 if df.empty else 2\n"], cat)
    emp = next(n for n in got if n["path"][-1] == "empty")
    assert emp["reads"] == [{"container": [1], "field": "empty"}]
    arms = extract_page_flow_nodes(
        "http://q/2",
        [pre + "x = df.head() if len(df) else df.tail()\n"], cat)
    assert any(n["path"][-1] == "head" for n in arms)
    assert any(n["path"][-1] == "tail" for n in arms)
    safe = extract_page_flow_nodes(
        "http://q/3", [pre + "x = 'v if df.empty else w'\n"], cat)
    assert not any(n["path"][-1] == "empty" for n in safe)


def test_chain_final_binds_only():
    """Multi-call chains (final r5): WALA binds only the postfix
    expression's FINAL value (golden example3 node 82 — `data =
    data.where(...)` names only the chain-final node); intermediate
    call values are unnamed SSA temps.  Previously every node in
    `x = df.groupby('a').agg('m').reset_index()` claimed x."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    pre = "import pandas\ndf = pandas.read_csv('t.csv')\n"
    got = extract_page_flow_nodes(
        "http://q/1",
        [pre + "x = df.groupby('a').agg('mean').reset_index()\n"], cat)
    named = [(n["path"][-1], n["value_names"]) for n in got
             if n["value_names"]]
    assert named == [("read_csv", ["df"]), ("reset_index", ["x"])]
    ctor = extract_page_flow_nodes(
        "http://q/2", ["import sklearn\nr = sklearn.svm.SVC().fit(x, 3)\n"],
        cat)
    named2 = [(n["path"][-1], n["value_names"]) for n in ctor
              if n["value_names"]]
    assert named2 == [("fit", ["r"])]


def test_bound_method_collapse_turtle_and_alias():
    """G4 fixpoint parity (final r5): the bound-method collapse now
    fuses TURTLE receivers (`g = df.dropna; r = g()` — catalog
    membership is irrelevant to WALA's fixpoint) and sees through SSA
    copies (`f = m.fit; h = f; h(x)`); a read used as an ARGUMENT
    still cancels the fuse (sole-use guard)."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    strip = lambda ns: [  # noqa: E731
        (tuple(n["path"]), tuple(n["value_names"] or ()),
         tuple(sorted((k, len(v)) for k, v in n["flows_to"].items())))
        for n in ns
    ]
    pre = "import pandas\ndf = pandas.read_csv('t.csv')\n"
    one = extract_page_flow_nodes(
        "http://q/1", [pre + "g = df.dropna\nr = g()\n"], cat)
    two = extract_page_flow_nodes(
        "http://q/1", [pre + "r = df.dropna()\n"], cat)
    assert strip(one) == strip(two)
    ali = extract_page_flow_nodes(
        "http://q/2",
        ["import sklearn\nm = sklearn.svm.SVC()\nf = m.fit\nh = f\nh(x, 3)\n"],
        cat)
    fits = [n for n in ali if n["path"][-1] == "fit"]
    assert len(fits) == 1 and not fits[0]["reads"]  # fused invoke, no read
    svc = next(n for n in ali if n["path"][-1] == "SVC")
    assert fits[0]["node_number"] in svc["flows_to"]["0"]
    # sole-use guard: a read consumed as an arg keeps its node
    arg = extract_page_flow_nodes(
        "http://q/3",
        ["import pandas\nimport sklearn\ndf = pandas.read_csv('t.csv')\n"
         "g = df.values\nm = sklearn.svm.SVC(g)\n"],
        cat)
    vals = next(n for n in arg if n["path"][-1] == "values")
    assert vals["reads"] and vals["value_names"] == ["g"]


def test_elif_condition_hoist():
    """`elif df.head() is None:` / `elif df.empty:` (final r5): elif
    conditions hoist with the same one-unrolling placement the walrus
    hoist already takes mid-chain; arm bindings stay exclusive."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    pre = "import pandas\ndf = pandas.read_csv('t.csv')\n"
    got = extract_page_flow_nodes(
        "http://q/1",
        [pre + "if 0:\n    x = 1\nelif df.head() is None:\n    y = 1\n"],
        cat)
    assert any(n["path"][-1] == "head" for n in got)
    rd = extract_page_flow_nodes(
        "http://q/2",
        [pre + "if 0:\n    x = 1\nelif df.empty:\n    y = 1\n"], cat)
    emp = next(n for n in rd if n["path"][-1] == "empty")
    assert emp["reads"] == [{"container": [1], "field": "empty"}]


def test_for_iterable_read_hoist():
    """`for v in df['col']:` / `for v in df['col'].unique():` (final
    r5): the iterable evaluates once before the loop, so a tracked
    subscript read in a for-head hoists EXACTLY, minting the read (and
    chaining into the for-over-call path for trailing calls); plain
    call iterables (`df.iterrows()`, `range(10)`) keep their existing
    paths."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    pre = "import pandas\ndf = pandas.read_csv('t.csv')\n"
    sub = extract_page_flow_nodes(
        "http://q/1", [pre + "for v in df['col']:\n    y = 1\n"], cat)
    rd = next(n for n in sub if n["path"][-1] == "col")
    assert rd["reads"] == [{"container": [1], "field": "col"}]
    ch = extract_page_flow_nodes(
        "http://q/2", [pre + "for v in df['col'].unique():\n    y = 1\n"],
        cat)
    assert [n["path"][-1] for n in ch] == [
        "pandas", "read_csv", "col", "unique"]
    it = extract_page_flow_nodes(
        "http://q/3", [pre + "for r in df.iterrows():\n    y = 1\n"], cat)
    assert any(n["path"][-1] == "iterrows" for n in it)


def test_string_literal_reads_inert():
    """Final r5: an attr access spelled inside a PLAIN string literal
    (`'df.empty in x'`) records no read — it is text; inside f-string
    BRACES it evaluates and the read stays (`f'{df.shape}'`), while the
    f-string's text part stays inert."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    pre = "import pandas\ndf = pandas.read_csv('t.csv')\n"
    def reads_of(code):
        nodes = extract_page_flow_nodes("http://q/1", [pre + code], cat)
        prod = next(n for n in nodes if n["value_names"] == ["df"])
        return prod["reads"]
    assert reads_of("s = 'df.empty in x'\n") == []
    assert reads_of("s = f'{df.shape}'\n") == [
        {"container": None, "field": "shape"}]
    assert reads_of("s = f'df.empty is {1}'\n") == []
    # doubled braces are literal text, not a brace region
    assert reads_of("s = f'{{df.shape}}'\n") == []
    assert reads_of("s = f'{{{df.shape}}}'\n") == [
        {"container": None, "field": "shape"}]


def test_comments_and_string_calls_inert():
    """Final r5: comments strip per physical line before processing —
    a commented-out call mints nothing, a trailing comment no longer
    breaks the anchored desugars or the paren-depth joiner — and a call
    spelled inside a plain string/docstring is text (f-string braces
    stay live).  `#` inside a string literal is kept."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    pre = "import pandas\ndf = pandas.read_csv('t.csv')\n"
    com = extract_page_flow_nodes(
        "http://q/1",
        [pre + "# pandas.read_csv('b.csv')\n"
         "x = df['a'].sum()  # total\n"], cat)
    assert [n["path"][-1] for n in com] == [
        "pandas", "read_csv", "a", "sum"]
    assert next(n for n in com if n["path"][-1] == "sum")[
        "value_names"] == ["x"]
    multi = extract_page_flow_nodes(
        "http://q/2",
        ["import pandas\ndf = pandas.read_csv(\n"
         "    't.csv',  # the path (note\n    sep=',')\ny = df.head()\n"],
        cat)
    assert [n["path"][-1] for n in multi] == ["pandas", "read_csv", "head"]
    s = extract_page_flow_nodes(
        "http://q/3",
        ["import pandas\ns = 'pandas.read_csv(x)'\n"
         "df = pandas.read_csv('a#b.csv')\n"], cat)
    assert [n["path"][-1] for n in s] == ["pandas", "read_csv"]
    doc = extract_page_flow_nodes(
        "http://q/4",
        ["import pandas\ndef f():\n"
         "    \"\"\"uses pandas.read_csv('a.csv')\"\"\"\n    return 1\n"],
        cat)
    assert [n["path"][-1] for n in doc] == ["pandas"]
    # `{{`/`}}` are literal braces: the call is text; a real brace
    # region still evaluates
    lit = extract_page_flow_nodes(
        "http://q/5", [pre + "s = f'{{df.dropna()}}'\n"], cat)
    assert [n["path"][-1] for n in lit] == ["pandas", "read_csv"]
    live = extract_page_flow_nodes(
        "http://q/6", [pre + "s = f'{df.dropna()}'\n"], cat)
    assert [n["path"][-1] for n in live] == ["pandas", "read_csv", "dropna"]
    # a quoted `)` does not close the call; an escaped quote does not
    # end the string (nor open a bracket span over the next line)
    par = extract_page_flow_nodes(
        "http://q/7", ["import pandas\n"
                       "df = pandas.read_csv('a)b.csv', sep=';')\n"], cat)
    rc = next(n for n in par if n["path"][-1] == "read_csv")
    assert rc["constant_positional_args"] == {"1": "a)b.csv"}
    assert rc["constant_named_args"] == {"sep": ";"}
    esc = extract_page_flow_nodes(
        "http://q/8", ["import pandas\n"
                       "df = pandas.read_csv('it\\'s', sep=',')\n"
                       "df.dropna()\n"], cat)
    rc = next(n for n in esc if n["path"][-1] == "read_csv")
    assert rc["constant_positional_args"] == {"1": "it's"}
    assert rc["constant_named_args"] == {"sep": ","}
    assert rc["source_lines"] == ["df = pandas.read_csv('it\\'s', sep=',')"]
    drop = next(n for n in esc if n["path"][-1] == "dropna")
    assert rc["flows_to"]["0"] == [drop["node_number"]]
    # an escaped quote of the literal's own kind unescapes; any other
    # backslash stays as written
    dq = extract_page_flow_nodes(
        "http://q/9", ["import pandas\n"
                       "df = pandas.read_csv(\"say \\\"hi\\\"\", "
                       "sep='\\\\t')\n"], cat)
    rc = next(n for n in dq if n["path"][-1] == "read_csv")
    assert rc["constant_positional_args"] == {"1": 'say "hi"'}
    assert rc["constant_named_args"] == {"sep": "\\\\t"}


def test_unparseable_statement_passes_through():
    """A statement that does not parse (a stray `)`, a keyword argument
    before a positional one) mints nothing, and the statements around it
    still track: read_csv keeps its constant and its DATA-0 edge into
    the dropna after it.  A Python 2 `print x, y` lowers to its operand
    expression, so `print df.dropna()` gives the dropna of
    `df.dropna()`."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    for i, junk in enumerate(["print 'x'", ")",
                              "pandas.read_csv(key='v', x)"]):
        got = extract_page_flow_nodes(
            f"http://u/{i}", ["import pandas as pd\n"
                              "df = pd.read_csv('a.csv')\n"
                              f"{junk}\n"
                              "df.dropna()\n"], cat)
        assert [n["path"][-1] for n in got] == [
            "pandas", "read_csv", "dropna"], junk
        rc, drop = got[1], got[2]
        assert rc["constant_positional_args"] == {"1": "a.csv"}, junk
        assert rc["flows_to"]["0"] == [drop["node_number"]], junk
    for i, stmt in enumerate(["print df.dropna()", "print 'n', df.dropna()"]):
        got = extract_page_flow_nodes(
            f"http://p/{i}", ["import pandas\n"
                              "df = pandas.read_csv('a.csv')\n"
                              f"{stmt}\n"], cat)
        assert [n["normalized_label"] for n in got] == [
            "pandas", "pandas.read_csv", "pandas.read_csv.dropna"], stmt
        assert got[1]["flows_to"]["0"] == [2], stmt


def test_non_ascii_text_before_lowered_sugar():
    """ast columns count UTF-8 bytes: non-ASCII text ahead of a lowered
    annotated assignment or walrus in the same statement must give the
    nodes and edges of its ASCII spelling."""
    import json

    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    for code, ascii_code in [
        ("x = 'é'; df: pd.DataFrame = pd.read_csv('données.csv')\n"
         "df.dropna()\n",
         "x = 'e'; df: pd.DataFrame = pd.read_csv('donnees.csv')\n"
         "df.dropna()\n"),
        ("if (df := pd.read_csv('ü')) is not None:\n    df.dropna()\n",
         "if (df := pd.read_csv('u')) is not None:\n    df.dropna()\n"),
    ]:
        got, want = (
            extract_page_flow_nodes("http://n/1",
                                    ["import pandas as pd\n" + c], cat)
            for c in (code, ascii_code))
        assert [n["path"][-1] for n in want] == [
            "pandas", "read_csv", "dropna"]
        assert want[1]["flows_to"]["0"] == [2]
        assert json.dumps(got, ensure_ascii=False).translate(
            str.maketrans("éü", "eu")) == json.dumps(want), code


def test_multiline_string_interiors_inert():
    """Final r5: lines inside a multi-line triple-quoted string are
    text — code spelled there (quoted samples, docstrings, embedded
    SQL) previously minted real nodes AND bindings; code after the
    closing delimiter still tracks."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    got = extract_page_flow_nodes(
        "http://q/1",
        ["import pandas\nq = '''\ndf2 = pandas.read_csv('x.csv')\n'''\n"
         "df = pandas.read_csv('a.csv')\nx = df.head()\n"],
        cat)
    assert [n["path"][-1] for n in got] == ["pandas", "read_csv", "head"]
    assert next(n for n in got if n["path"][-1] == "read_csv")[
        "value_names"] == ["df"]
    doc = extract_page_flow_nodes(
        "http://q/2",
        ["import pandas\ndef f():\n    '''\n"
         "    example: pandas.read_csv('x.csv')\n    '''\n    return 1\n"],
        cat)
    assert [n["path"][-1] for n in doc] == ["pandas"]
    # a `#` inside the string is text, not a comment: the string still
    # closes and everything after it tracks
    com = extract_page_flow_nodes(
        "http://q/3",
        ['import pandas\nx = """a\nb # c"""\n'
         'df = pandas.read_csv("f"); df.dropna()\n'],
        cat)
    assert [n["path"][-1] for n in com] == ["pandas", "read_csv", "dropna"]
    assert com[1]["flows_to"]["0"] == [com[2]["node_number"]]
    # a docstring longer than the bracket-join cap stays one statement of
    # the def body: the def keeps its return, and the caller's binding
    # flows into dropna()
    long_doc = extract_page_flow_nodes(
        "http://q/4",
        ['import pandas\ndef load(p):\n    """Load a frame.\n'
         + "".join(f"    line {i}\n" for i in range(10))
         + '    """\n    d = pandas.read_csv(p)\n    return d\n'
         'df = load("a.csv")\ndf.dropna()\n'],
        cat)
    assert [n["path"][-1] for n in long_doc] == [
        "pandas", "read_csv", "dropna"]
    assert long_doc[1]["flows_to"]["0"] == [long_doc[2]["node_number"]]


def test_repl_transcript_repair():
    """Final r5 snippet repair: REPL transcripts (`>>> `/`... ` with
    interleaved output) and IPython cells (`In [n]:`) keep only the
    typed statements, prompt-stripped and line-number-faithful; blocks
    without prompts (incl. a bare `x = ...` ellipsis) pass through."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    repl = extract_page_flow_nodes(
        "http://q/1",
        [">>> import pandas\n>>> df = pandas.read_csv('a.csv')\n"
         ">>> df.head()\n       a\n0  1\n"],
        cat)
    assert [n["path"][-1] for n in repl] == ["pandas", "read_csv", "head"]
    assert repl[1]["source_location"]["first_line"] == 2
    loop = extract_page_flow_nodes(
        "http://q/2",
        [">>> import numpy\n>>> for i in range(2):\n"
         "...     a = numpy.zeros(i)\n"],
        cat)
    assert any(n["path"][-1] == "zeros" for n in loop)
    ipy = extract_page_flow_nodes(
        "http://q/3",
        ["In [1]: import pandas\nIn [2]: df = pandas.read_csv('a.csv')\n"
         "Out[2]: <DataFrame>\nIn [3]: df.head()\n"],
        cat)
    assert [n["path"][-1] for n in ipy] == ["pandas", "read_csv", "head"]
    ipy_loop = extract_page_flow_nodes(
        "http://q/5",
        ["In [1]: import numpy\nIn [2]: for i in range(2):\n"
         "   ...:     a = numpy.zeros(i)\n   ...:\n"],
        cat)
    assert [n["path"][-1] for n in ipy_loop] == ["numpy", "zeros"]
    assert ipy_loop[1]["value_names"] == ["a"]
    assert ipy_loop[1]["source_location"]["first_line"] == 3
    plain = extract_page_flow_nodes(
        "http://q/4",
        ["import pandas\nx = ...\ndf = pandas.read_csv('a.csv')\n"], cat)
    assert any(n["path"][-1] == "read_csv" for n in plain)


def test_assignment_form_container_element_receiver():
    """`r = models[0].fit(x)` (final r5 fix): a container base skips
    the subscript-chain temp desugar (whose digit-index temp hits the
    node-ref-ambiguity path and dropped the call) and resolves through
    the precise element-receiver machinery — including append-built
    lists; keyed stores and DataFrame chains keep their paths."""
    from graph4code_spark.operators.flows import (
        build_flow_catalog,
        extract_page_flow_nodes,
    )

    cat = build_flow_catalog(FIXED_CATALOG)
    for pre in (
        "import sklearn\na = sklearn.svm.SVC()\nmodels = [a]\n",
        "import sklearn\na = sklearn.svm.SVC()\nmodels = []\n"
        "models.append(a)\n",
    ):
        got = extract_page_flow_nodes(
            "http://q/1", [pre + "r = models[0].fit(x)\n"], cat)
        svc = next(n for n in got if n["path"][-1] == "SVC")
        fit = next(n for n in got if n["path"][-1] == "fit")
        assert fit["value_names"] == ["r"]
        assert fit["node_number"] in svc["flows_to"]["0"]
