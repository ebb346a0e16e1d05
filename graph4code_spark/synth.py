"""Deterministic synthetic fixtures: API catalog + Common-Crawl-style pages.

The north rule's input is an Iceberg/parquet table of web pages
``(url, warc_ts, html, text, lang)``.  No external data is allowed, so we
synthesize StackOverflow-shaped pages deterministically (hash-seeded per
row id → identical output at any partitioning/parallelism) and a small
API catalog mirroring the reference's docstring-record schema
(`/root/reference/src/create_docstrings_graph.py:8-83`).

Scale-out note: page generation is ``spark.range(n).mapInPandas(...)`` —
fully distributed, no driver materialization, so the same generator backs
the sf0.001 smoke test and the bench corpus.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from graph4code_spark.schemas import API_CATALOG_SCHEMA, CLASS_MAP_SCHEMA
from graph4code_spark.session import local_df

# ---------------------------------------------------------------------------
# Fixed catalog: modules / classes / methods / functions with params, types,
# docstrings, base classes.  The hub entity is `sklearn.svm.SVC.fit`
# (reference hub entities like `fit` overflow the 5000-hit cap,
# `utils.py:282`); decoy-prone entity `json.load` shares its tail token with
# planted decoys.
# ---------------------------------------------------------------------------

def _p(name, doc, typ=None, optional=None, inferred=None):
    return {
        "name": name,
        "param_doc": doc,
        "type": typ,
        "optional": optional,
        "inferred_type": inferred,
        "dimensionality": None,
    }


def _rec(module, klass=None, function=None, fdoc=None, cdoc=None,
         param_names=None, param_map=None, return_map=None,
         ret_types=None, base_classes=None):
    return {
        "module": module,
        "klass": klass,
        "function": function,
        "function_docstring": fdoc,
        "class_docstring": cdoc,
        "param_names": param_names,
        "param_map": param_map,
        "return_map": return_map,
        "ret_types": ret_types,
        "base_classes": base_classes,
    }


FIXED_CATALOG: list[dict] = [
    # classes
    _rec("sklearn", klass="sklearn.svm.SVC",
         cdoc="C-Support Vector Classification.",
         param_names=["C", "kernel", "degree"],
         param_map={
             "C": _p("C", " Regularization parameter.", " float, optional", True, ["float"]),
             "kernel": _p("kernel", " Kernel type.", " str, optional", True, ["str"]),
             "degree": _p("degree", " Degree of poly kernel.", " int, optional", True, ["int"]),
         },
         base_classes=["sklearn.base.BaseEstimator", "sklearn.base.ClassifierMixin"]),
    _rec("pandas", klass="pandas.DataFrame",
         cdoc="Two-dimensional, size-mutable, tabular data.",
         param_names=["data", "index", "columns"],
         param_map={
             "data": _p("data", " ndarray, Iterable, dict, or DataFrame.", " object", None, None),
             "index": _p("index", " Index to use.", " Index, optional", True, None),
         },
         base_classes=["pandas.core.generic.NDFrame"]),
    _rec("numpy", klass="numpy.ndarray",
         cdoc="An array object of fixed-size items.",
         param_names=["shape", "dtype"],
         param_map={"shape": _p("shape", " Shape of created array.", " tuple of ints", None, ["tuple"])}),
    _rec("requests", klass="requests.Session",
         cdoc="A Requests session.",
         param_names=[]),
    _rec("torch", klass="torch.Tensor",
         cdoc="A multi-dimensional matrix.",
         param_names=[]),
    # methods (klass + function)
    _rec("sklearn", klass="sklearn.svm.SVC", function="fit",
         fdoc="Fit the SVM model according to the given training data.",
         param_names=["X", "y", "sample_weight"],
         param_map={
             "X": _p("X", " Training vectors.", " array-like", None, ["numpy.ndarray"]),
             "y": _p("y", " Target values.", " array-like", None, ["numpy.ndarray"]),
             "sample_weight": _p("sample_weight", " Per-sample weights.", " array-like, optional", True, None),
         },
         return_map={"doc": " **self** -- Fitted estimator.", "type": " object", "inferred_type": ["object"]}),
    _rec("sklearn", klass="sklearn.svm.SVC", function="predict",
         fdoc="Perform classification on samples in X.",
         param_names=["X"],
         param_map={"X": _p("X", " Samples.", " array-like", None, None)},
         return_map={"doc": " **y_pred** -- Class labels.", "type": " numpy.ndarray",
                     "inferred_type": ["numpy.ndarray"]}),
    _rec("pandas", klass="pandas.DataFrame", function="merge",
         fdoc="Merge DataFrame or named Series objects.",
         param_names=["right", "how", "on"],
         param_map={
             "right": _p("right", " Object to merge with.", " DataFrame", None, ["pandas.DataFrame"]),
             "how": _p("how", " Type of merge.", " str, optional", True, ["str"]),
             "on": _p("on", " Column or index level names.", " label or list, optional", True, None),
         },
         return_map={"doc": " DataFrame of the two merged objects.", "type": " pandas.DataFrame",
                     "inferred_type": ["pandas.DataFrame"]}),
    _rec("pandas", klass="pandas.DataFrame", function="groupby",
         fdoc="Group DataFrame using a mapper or by a Series of columns.",
         param_names=["by", "axis"],
         param_map={"by": _p("by", " Used to determine the groups.", " mapping or label", None, None)},
         return_map={"doc": " Groupby object.", "type": " pandas.core.groupby.DataFrameGroupBy",
                     "inferred_type": None}),
    _rec("requests", klass="requests.Session", function="get",
         fdoc="Sends a GET request.",
         param_names=["url"],
         param_map={"url": _p("url", " URL for the new Request.", " str", None, ["str"])},
         return_map={"doc": " Response object.", "type": " requests.Response",
                     "inferred_type": ["requests.Response"]}),
    _rec("numpy", klass="numpy.ndarray", function="reshape",
         fdoc="Returns an array containing the same data with a new shape.",
         param_names=["shape"],
         return_map={"doc": " Reshaped array.", "type": " numpy.ndarray",
                     "inferred_type": ["numpy.ndarray"]}),
    _rec("torch", klass="torch.Tensor", function="backward",
         fdoc="Computes the gradient of current tensor wrt graph leaves.",
         param_names=["gradient", "retain_graph"],
         param_map={"gradient": _p("gradient", " Gradient wrt the tensor.", " Tensor, optional", True, None)}),
    # functions (module-level)
    _rec("pandas", function="pandas.read_csv",
         fdoc="Read a comma-separated values (csv) file into DataFrame.",
         param_names=["filepath_or_buffer", "sep", "header"],
         param_map={
             "filepath_or_buffer": _p("filepath_or_buffer", " Any valid string path.", " str", None, ["str"]),
             "sep": _p("sep", " Delimiter to use.", " str, optional", True, ["str"]),
         },
         return_map={"doc": " DataFrame or TextParser.", "type": " pandas.DataFrame",
                     "inferred_type": ["pandas.DataFrame"]}),
    _rec("numpy", function="numpy.linspace",
         fdoc="Return evenly spaced numbers over a specified interval.",
         param_names=["start", "stop", "num"],
         param_map={"num": _p("num", " Number of samples.", " int, optional", True, ["int"])},
         return_map={"doc": " num equally spaced samples.", "type": " numpy.ndarray",
                     "inferred_type": ["numpy.ndarray"]}),
    _rec("json", function="json.load",
         fdoc="Deserialize fp to a Python object.",
         param_names=["fp"],
         param_map={"fp": _p("fp", " A .read()-supporting file-like object.", " file", None, None)}),
    _rec("sklearn", function="sklearn.model_selection.train_test_split",
         fdoc="Split arrays or matrices into random train and test subsets.",
         param_names=["test_size", "random_state"],
         param_map={"test_size": _p("test_size", " Proportion of test split.", " float, optional", True, ["float"])},
         ret_types="typing.List[numpy.ndarray]"),
    _rec("matplotlib", function="matplotlib.pyplot.plot",
         fdoc="Plot y versus x as lines and/or markers.",
         param_names=["args"],
         param_map={}),
    # round-3 additions (appended: tail_first is insertion-ordered, so
    # `fit` still resolves to SVC.fit).  A second ClassifierMixin subclass
    # and a RegressorMixin subclass give the find_similar_flows /
    # must_not_set_hyperparameters restatements real data to bind; the
    # hyperparameter-optimizer function exercises their NOT-EXISTS leg.
    _rec("sklearn", klass="sklearn.ensemble.RandomForestClassifier",
         cdoc="A random forest classifier.",
         param_names=["n_estimators", "max_depth"],
         param_map={
             "n_estimators": _p("n_estimators", " The number of trees in the forest.", " int, optional", True, ["int"]),
             "max_depth": _p("max_depth", " The maximum depth of the tree.", " int, optional", True, ["int"]),
         },
         base_classes=["sklearn.ensemble.BaseForest", "sklearn.base.ClassifierMixin"]),
    _rec("sklearn", klass="sklearn.ensemble.RandomForestClassifier", function="fit",
         fdoc="Build a forest of trees from the training set (X, y).",
         param_names=["X", "y"],
         param_map={
             "X": _p("X", " The training input samples.", " array-like", None, ["numpy.ndarray"]),
             "y": _p("y", " The target values.", " array-like", None, None),
         },
         return_map={"doc": " **self** -- Fitted estimator.", "type": " object", "inferred_type": ["object"]}),
    _rec("sklearn", klass="sklearn.ensemble.RandomForestClassifier", function="predict",
         fdoc="Predict class for X.",
         param_names=["X"],
         param_map={"X": _p("X", " The input samples.", " array-like", None, None)},
         return_map={"doc": " **y** -- The predicted classes.", "type": " numpy.ndarray",
                     "inferred_type": ["numpy.ndarray"]}),
    _rec("sklearn", klass="sklearn.linear_model.LinearRegression",
         cdoc="Ordinary least squares Linear Regression.",
         param_names=["fit_intercept"],
         param_map={"fit_intercept": _p("fit_intercept", " Whether to calculate the intercept.", " bool, optional", True, ["bool"])},
         base_classes=["sklearn.base.RegressorMixin"]),
    _rec("sklearn", klass="sklearn.linear_model.LinearRegression", function="fit",
         fdoc="Fit linear model.",
         param_names=["X", "y"],
         param_map={"X": _p("X", " Training data.", " array-like", None, None)},
         return_map={"doc": " **self** -- Fitted Estimator.", "type": " object",
                     "inferred_type": ["object"]}),
    _rec("hyperopt", function="hyperopt.fmin",
         fdoc="Minimize a function over a hyperparameter space.",
         param_names=["fn", "space", "algo"],
         param_map={"space": _p("space", " The search space.", " object", None, None)}),
]

#: alias pairs for canonicalization (symmetric on load, with a chain a-b-c
#: so connected components must transitively close)
FIXED_CLASS_MAP: list[tuple[str, str]] = [
    ("sklearn.svm.SVC", "sklearn.svm.classes.SVC"),
    ("sklearn.svm.classes.SVC", "sklearn.svm._classes.SVC"),
    ("pandas.DataFrame", "pandas.core.frame.DataFrame"),
    ("numpy.ndarray", "numpy.core.ndarray"),
    ("torch.Tensor", "torch.tensor.Tensor"),
]


def entity_name(rec: dict) -> str:
    """Qualified entity name per the reference's type dispatch
    (`create_docstrings_graph.py:358-390`)."""
    if rec.get("klass") and rec.get("function"):
        return rec["klass"] + "." + rec["function"]
    if rec.get("klass"):
        return rec["klass"]
    return rec["function"]


def entity_type(rec: dict) -> str:
    if rec.get("klass") and rec.get("function"):
        return "method"
    if rec.get("klass"):
        return "class"
    return "function"


def catalog_df(spark: SparkSession, records: list[dict] | None = None) -> DataFrame:
    recs = records if records is not None else FIXED_CATALOG
    rows = [
        tuple(r.get(f.name) for f in API_CATALOG_SCHEMA.fields) for r in recs
    ]
    return local_df(spark, rows, API_CATALOG_SCHEMA)


def class_map_df(spark: SparkSession, pairs=None) -> DataFrame:
    pairs = pairs if pairs is not None else FIXED_CLASS_MAP
    return local_df(spark, pairs, CLASS_MAP_SCHEMA)


def render_docstring(rec: dict) -> str | None:
    """Render a catalog record back to raw RST-field docstring text — the
    inverse of the X5 parse path, used to prove raw-docstring →
    `docparse.parse_docstrings` → catalog round-trips onto the
    API_CATALOG_SCHEMA fields the parser produces.  A bare ``:returns:``
    is always emitted: the reference parser flushes its final param only
    on a returns line (quirk documented in `docparse.parse_rst`)."""
    if not rec.get("param_map"):
        return None
    lines = [(rec.get("function_docstring") or rec.get("class_docstring") or "")]
    for name, p in rec["param_map"].items():
        lines.append(f":param {name}:{p.get('param_doc') or ''}")
        if p.get("type") is not None:
            lines.append(f":type {name}:{p['type']}")
    rm = rec.get("return_map")
    if rm and rm.get("doc") and rm.get("type"):
        lines.append(f":returns:{rm['doc']}")
        lines.append(f":rtype:{rm['type']}")
    else:
        lines.append(":returns:")
    return "\n".join(lines)


# ---------------------------------------------------------------------------
# Page synthesis
# ---------------------------------------------------------------------------

_TAG_POOL = ["python", "pandas", "numpy", "scikit-learn", "pytorch",
             "dataframe", "machine-learning", "csv", "http", "plotting"]

_SENTENCES = [
    "I am trying to {e} but it raises a ValueError.",
    "How can I use {e} with a large dataset?",
    "The documentation for {e} is unclear about the first argument.",
    "Calling {e} works locally but fails on the server.",
    "Why is {e} slower than the naive loop version?",
]

_ANSWER_SENTENCES = [
    "You should call {e} after preprocessing your input.",
    "The trick is to pass the right dtype before {e} is invoked.",
    "See the user guide; {e} accepts an optional keyword argument.",
    "Upgrading the library fixed the issue with {e} for me.",
]


def _h(*parts) -> int:
    """Stable 64-bit hash for per-row decisions (no RNG state)."""
    m = hashlib.md5("|".join(str(p) for p in parts).encode()).digest()
    return int.from_bytes(m[:8], "big")


def _page_record(page_id: int, seed: int, names: list[str], hub: str,
                 etypes: dict[str, str] | None = None) -> dict:
    etypes = etypes or {}
    """Build one deterministic StackOverflow-shaped page."""
    qid = str(100000 + page_id)
    h0 = _h(seed, page_id, "sel")
    # entity selection: ~30% of pages mention the hub entity (skew), plus
    # 1-2 others; ~15% are decoy pages that mention only the tail token.
    ents: list[str] = []
    if h0 % 10 < 3:
        ents.append(hub)
    ents.append(names[_h(seed, page_id, "e1") % len(names)])
    if h0 % 3 == 0:
        ents.append(names[_h(seed, page_id, "e2") % len(names)])
    ents = list(dict.fromkeys(ents))
    decoy = (h0 % 100) >= 85

    def mention(e: str, k: int) -> str:
        if decoy:
            # token soup: every analyzer token present (satisfies the AND
            # query) but multi-token must-terms are never adjacent, so the
            # good_match re-check fails — the reference's "bad ES hit" case
            from graph4code_spark.analyzer import analyze

            return " plus ".join(reversed(analyze(e)))
        return e

    title = f"Question about {mention(ents[0], 0)} usage"
    body_parts = []
    for k, e in enumerate(ents):
        tmpl = _SENTENCES[_h(seed, page_id, "s", k) % len(_SENTENCES)]
        body_parts.append("<p>" + tmpl.format(e=mention(e, k)) + "</p>")
    body_html = "".join(body_parts)

    n_answers = 1 + _h(seed, page_id, "na") % 3
    answers = []
    # 9/12 of non-decoy pages carry a "special" first snippet exercising
    # the cross-graph usage-query shapes: read_csv feeding classifier
    # fits (find_similar_flows), a hyperparameter-optimizer flowing into
    # a constructor (must_not_set_hyperparameters NOT-EXISTS leg), a
    # constructor with positional constant args (its v>0 leg),
    # user-defined-def flows (the interprocedural G3 subset), and
    # binary-op/alias propagation (the G7 subset)
    special = -1 if decoy else _h(seed, page_id, "special") % 12
    for a in range(n_answers):
        aid = str(900000 + page_id * 10 + a)
        votes = str(_h(seed, page_id, "av", a) % 40)
        e = ents[_h(seed, page_id, "ae", a) % len(ents)]
        tmpl = _ANSWER_SENTENCES[_h(seed, page_id, "as", a) % len(_ANSWER_SENTENCES)]
        abody = "<p>" + tmpl.format(e=mention(e, a)) + "</p>"
        if a == 0 and special in (0, 1, 2):
            if special == 0:
                # read-then-fit: which models sit downstream of read_csv
                shape = _h(seed, page_id, "both") % 3
                body_code = "df = pandas.read_csv('train.csv')\n"
                if shape in (0, 1):
                    body_code += (
                        "m1 = sklearn.ensemble.RandomForestClassifier(df)\n"
                        "r1 = m1.fit(df, 3)\n"
                    )
                if shape in (0, 2):
                    body_code += (
                        "m2 = sklearn.svm.SVC(df)\n"
                        "r2 = m2.fit(df, 5)\n"
                    )
                # final-r5 shapes at volume: condition-call/read hoists,
                # subscript-write chain RHS, augmented field target,
                # boolean-mask inner read, call→subscript chain
                body_code += (
                    "if df.isnull().sum() > 0:\n"
                    "    dfc = df.dropna()\n"
                    "if df.empty:\n"
                    "    dfe = df.fillna(0)\n"
                    "df['z'] = df['w'].values\n"
                    "df['n'] += 1\n"
                    "df2 = df[df['n'] > 0]\n"
                    "gm = df.groupby('z')['w'].mean()\n"
                    "sl = df['z'].str.lower()\n"
                    "iv = df.iloc[0]['w']\n"
                    "def clean(d):\n"
                    "    return d.dropna()\n"
                    "cl = clean(df)\n"
                    "# pandas.read_csv('commented-out.csv')\n"
                    "tc = df['w'].sum()  # trailing comment\n"
                )
                abody += (
                    "<pre><code>import pandas\nimport sklearn\n"
                    + body_code + "</code></pre>"
                    # final-r5: a REPL-transcript block (prompt lines
                    # keep, output lines drop — the snippet-repair path)
                    "<pre><code>>>> import pandas\n"
                    ">>> z = pandas.read_csv('r.csv')\n"
                    ">>> z.describe()\n"
                    "       a    b\n0  1  2\n</code></pre>"
                )
            elif special == 1:
                # optimizer-driven constructor args: fmin's result flows
                # into the constructor, so the NOT-EXISTS leg must drop it
                abody += (
                    "<pre><code>import hyperopt\nimport sklearn\n"
                    "best = hyperopt.fmin(space)\n"
                    "obj = sklearn.svm.SVC(best, kernel='linear')\n"
                    "result = obj.fit(x, 3)\n</code></pre>"
                )
            else:
                # positional constant hyperparameters (ordinal > 0)
                abody += (
                    "<pre><code>import sklearn\n"
                    "obj = sklearn.svm.SVC(1.5, 'rbf')\n"
                    "result = obj.fit(x, 3)\n</code></pre>"
                )
            answers.append((aid, abody, votes))
            continue
        if a == 0 and special == 5:
            # G7 subset: binary-op propagation + copy aliasing — both
            # read_csv producers must reach the DataFrame ctor through c.
            # r5: plus the two semForms expression shapes the dataflow
            # miner separates — an ALIASED one-frame transform and a
            # genuine two-frame transform (field names vary by page for
            # a non-degenerate count distribution)
            fa, fb = f"f{page_id % 3}", f"g{page_id % 2}"
            abody += (
                "<pre><code>import pandas\n"
                "a = pandas.read_csv('x.csv')\n"
                "b = pandas.read_csv('y.csv')\n"
                "c = a + b\n"
                "d = c\n"
                "out = pandas.DataFrame(d)\n"
                "e = a\n"
                f"r1 = e['{fa}'] / a['{fb}']\n"
                f"r2 = a['{fa}'] / b['{fb}']\n</code></pre>"
            )
            answers.append((aid, abody, votes))
            continue
        if a == 0 and special == 8:
            # round-3 G5 fork-join: calls in if/elif/else arms fork from
            # the pre-if call and join at the first call after the
            # chain; r5: plus the try/except/finally sibling — except
            # arms fork from the pre-try frontier, finally joins — and
            # the late-r5 SSA phi shapes: an if/else whose arms bind the
            # same class (union points-to receiver at the post-join
            # fit), an arm rebind phi'd with the pre binding, a
            # `while` loop (fork + zero-iteration fall-through +
            # loop-header phi), a NESTED chain (inner if joins inside
            # the outer arm; phi composes through the nesting), and a
            # DEF-BODY chain (arms fork from the body frontier, phi
            # under the body env, call-site arg wiring into the joined
            # fit), RETURN PHI (arms return different ctors; the
            # call site binds the union and the later fit resolves via
            # the union points-to receiver), and EARLY EXIT (a
            # returning guard arm is dead at the join — no control edge
            # or binding leak into the fall-through code — while its
            # return still reaches the call-site union); late r5: a
            # PHI-UNION TURTLE EXTENSION (agreeing read_csv paths in
            # both arms → ONE dropna node with two receiver edges), a
            # `del` unbind, and the ONE-LINE attr+subscript selections
            # closing the snippet (`df.iloc[0]` → attr read + selection
            # node; `df.loc['lab']` → attr read + second field read,
            # bit-identical to the two-line form)
            abody += (
                "<pre><code>import pandas\nimport numpy\nimport sklearn\n"
                "df = pandas.read_csv('t.csv')\n"
                "if flag:\n"
                "    a = json.load('a.json')\n"
                "elif other:\n"
                "    b = numpy.linspace(0, 1)\n"
                "else:\n"
                "    c = pandas.DataFrame(df)\n"
                "out = pandas.read_csv('u.csv')\n"
                "try:\n"
                "    t1 = numpy.linspace(1, 2)\n"
                "except ValueError:\n"
                "    t2 = pandas.DataFrame(out)\n"
                "finally:\n"
                "    t3 = pandas.concat(df)\n"
                "g = pandas.read_csv('v.csv')\n"
                "if flag2:\n"
                "    g = pandas.read_csv('w.csv')\n"
                "    m = sklearn.svm.SVC(1)\n"
                "else:\n"
                "    m = sklearn.svm.SVC(2)\n"
                "rphi = m.fit(g, 1)\n"
                "while more:\n"
                "    g = pandas.DataFrame(g)\n"
                "tail = pandas.concat(g)\n"
                "if outer:\n"
                "    n1 = pandas.read_csv('n1.csv')\n"
                "    if inner:\n"
                "        n1 = pandas.DataFrame(n1)\n"
                "    n2 = pandas.concat(n1)\n"
                "else:\n"
                "    n3 = numpy.linspace(2, 3)\n"
                "njoin = pandas.concat(tail)\n"
                "def choose(d):\n"
                "    if c1:\n"
                "        mm = sklearn.svm.SVC(3)\n"
                "    else:\n"
                "        mm = sklearn.svm.SVC(4)\n"
                "    rr = mm.fit(d, 2)\n"
                "choose(njoin)\n"
                "def pick2(flag):\n"
                "    if flag:\n"
                "        p1 = sklearn.svm.SVC(5)\n"
                "        return p1\n"
                "    else:\n"
                "        p2 = sklearn.svm.SVC(6)\n"
                "        return p2\n"
                "sel = pick2(1)\n"
                "selr = sel.fit(njoin, 4)\n"
                "def mk9(flag, d):\n"
                "    if flag:\n"
                "        m = sklearn.svm.SVC(7)\n"
                "        return m\n"
                "    m2 = sklearn.svm.SVC(8)\n"
                "    r = m2.fit(d, 5)\n"
                "    return m2\n"
                "g9 = mk9(0, njoin)\n"
                "g9r = g9.predict(njoin)\n"
                "if src:\n"
                "    dd = pandas.read_csv('p1.csv')\n"
                "else:\n"
                "    dd = pandas.read_csv('p2.csv')\n"
                "ddz = dd.dropna()\n"
                "del ddz\n"
                "row = df.iloc[0]\n"
                "cell = df.loc['lab']\n"
                "pair = pandas.concat(row, cell)\n</code></pre>"
            )
            answers.append((aid, abody, votes))
            continue
        if a == 0 and special == 9:
            # round-3 nested-call args: inner call results flow into the
            # outer call at their source-order ordinal (positional AND
            # keyword), including a chained inner whose FINAL node feeds
            # the outer
            # late r5: the local-def twin — a nested-call arg at a def
            # call site wires the inner node into the body's param uses;
            # final r5: one-line subscript chains (`v['col'].sum()` →
            # field read + turtle extension with an unnamed temp value;
            # `v.iloc[0].tolist()` → attr read + selection + extension)
            abody += (
                "<pre><code>import pandas\nimport sklearn\n"
                "r = train_test_split(pandas.read_csv('x.csv'), 0.3)\n"
                "m = sklearn.svm.SVC(C=pandas.read_csv('w.csv'))\n"
                "q = pandas.DataFrame(sklearn.svm.SVC(2.0).fit(x, 1))\n"
                "def prep(d):\n"
                "    return pandas.DataFrame(d)\n"
                "t = prep(pandas.read_csv('n.csv'))\n"
                "v = pandas.read_csv('c.csv')\n"
                "s = v['col'].sum()\n"
                "w = v.iloc[0].tolist()\n"
                "u = pandas.concat(s, w)\n"
                "u2 = pandas.concat(v['d'].values)\n"
                "u3 = v['e'] * 2\n"
                "u4 = pandas.concat(u3)\n</code></pre>"
            )
            answers.append((aid, abody, votes))
            continue
        if a == 0 and special == 10:
            # round-3 import aliasing: pd/as-aliases resolve to canonical
            # catalog names, class alias tracks the constructed klass.
            # late r5: a bare decorator applies at def time — @numpy.
            # vectorize mints its call node in the def-site control flow
            # (desugars to the call statement); the decorated def keeps
            # its own binding for interprocedural wiring
            abody += (
                "<pre><code>import pandas as pd\n"
                "import numpy\n"
                "from sklearn.svm import SVC as Clf\n"
                "df = pd.read_csv('al.csv')\n"
                "@numpy.vectorize\n"
                "def norm(x):\n"
                "    return numpy.log(x)\n"
                "u = norm(df)\n"
                "m = Clf(df)\n"
                "r = m.fit(df, 4)\n"
                "s: pd.DataFrame = pd.read_csv('t.csv'); w = s.dropna()\n"
                "if (v := pd.read_csv('v.csv')) is not None:\n"
                "    vh = v.head()\n</code></pre>"
            )
            answers.append((aid, abody, votes))
            continue
        if a == 0 and special in (6, 7):
            if special == 6:
                # round-3 G2 shapes (the sample_graph/example2.json
                # pattern): tuple unpack into ordinal element nodes,
                # attr-read + slice nodes, string-subscript read node
                abody += (
                    "<pre><code>import pandas\nimport sklearn\n"
                    "df = pandas.read_csv('train.csv')\n"
                    "train, test = train_test_split(df)\n"
                    "X = train.columns[:5]\n"
                    "y = train['Dataset']\n"
                    "m = sklearn.svm.SVC(X, y)\n"
                    "r = m.fit(test, 2)\n</code></pre>"
                )
            else:
                # round-3 statement forms: with-as binding, for-loop
                # iteration flow, augmented assignment; r5: field
                # store/load through an untracked object, ternary phi,
                # list-append membership, method calls through
                # field/element loads, and a tuple-return def with
                # element-wise call-site unpack (the new G2/G3 shapes);
                # late r5: star import (exact-module bare-name binding),
                # single inheritance (Sub(Wrap) inherits __init__
                # field stores + run dispatch), a top-level lambda
                # (desugars to the local-def form), a lambda CALL
                # ARGUMENT (hoists into a synthetic def), chained
                # assignment (`a = b = ctor()` binds both names), and
                # boolean-operator phi (`x = a or b` unions operands),
                # multi-manager with (per-manager bindings), and
                # literal-tuple unpack (element-wise producers)
                abody += (
                    "<pre><code>import pandas\nimport sklearn\n"
                    "with sklearn.svm.SVC() as model:\n"
                    "    r = model.fit(x, 1)\n"
                    "df = pandas.read_csv('t.csv')\n"
                    "for row in df:\n"
                    "    out = pandas.DataFrame(row)\n"
                    "acc = pandas.read_csv('u.csv')\n"
                    "acc += df\n"
                    "fin = pandas.DataFrame(acc)\n"
                    "store = Holder()\n"
                    "store.frame = df\n"
                    "m5 = sklearn.svm.SVC(store.frame)\n"
                    "pick = df if acc else fin\n"
                    "m6 = pandas.DataFrame(pick)\n"
                    "bag = []\n"
                    "bag.append(pandas.read_csv('v.csv'))\n"
                    "bag.append(df)\n"
                    "m7 = sklearn.model_selection.train_test_split(bag)\n"
                    "store.clf = sklearn.svm.SVC()\n"
                    "store.clf.fit(df)\n"
                    "duo = [m5, m7]\n"
                    "duo[0].predict(df)\n"
                    "def both(u, v):\n"
                    "    p = pandas.DataFrame(u)\n"
                    "    q = pandas.DataFrame(v)\n"
                    "    return p, q\n"
                    "left, right = both(df, fin)\n"
                    "m8 = sklearn.svm.SVC(left, right)\n"
                    "rows2 = [pandas.DataFrame(bb) for bb in bag]\n"
                    "class Wrap:\n"
                    "    def __init__(self, path, base):\n"
                    "        self.d = pandas.read_csv(path)\n"
                    "        self.base = base\n"
                    "    def run(self, k):\n"
                    "        w = sklearn.svm.SVC(self.d, self.base)\n"
                    "        r2 = w.fit(k)\n"
                    "        return w\n"
                    "wr = Wrap('w.csv', df)\n"
                    "clf9 = wr.run(df)\n"
                    "clf9.predict(df)\n"
                    "clf10 = Wrap('w2.csv', df).run(fin)\n"
                    "for part in pandas.read_csv('s.csv'):\n"
                    "    seen = pandas.DataFrame(part)\n"
                    "m9 = sklearn.svm.SVC(*duo)\n"
                    "def top_view():\n"
                    "    return pandas.DataFrame(df)\n"
                    "t9 = top_view()\n"
                    "from sklearn.svm import *\n"
                    "m10 = SVC(df)\n"
                    "r10 = m10.fit(df, 2)\n"
                    "class Sub(Wrap):\n"
                    "    pass\n"
                    "wr2 = Sub('w3.csv', fin)\n"
                    "clf11 = wr2.run(df)\n"
                    "lam7 = lambda q: pandas.DataFrame(q)\n"
                    "lout = lam7(df)\n"
                    "lap = df.apply(lambda z: pandas.notnull(z))\n"
                    "ca = cb = sklearn.svm.SVC(C=4)\n"
                    "ra = ca.fit(df)\n"
                    "rb = cb.fit(fin)\n"
                    "best = m5 or m9\n"
                    "rbest = best.fit(df)\n"
                    "with pandas.read_csv('p.csv') as fa, "
                    "pandas.read_csv('q.csv') as fb:\n"
                    "    mixed = pandas.DataFrame(fa, fb)\n"
                    "tx, mx = pandas.read_csv('r.csv'), sklearn.svm.SVC()\n"
                    "rx = mx.fit(tx)\n</code></pre>"
                )
            answers.append((aid, abody, votes))
            continue
        if a == 0 and special == 11:
            # round-4 G4/G8 shapes: a bound method (`f = m.fit; f(df)`)
            # must collapse to the same node shape as `m.fit(df)`, and a
            # second same-class instance with interleaved calls must not
            # cross-wire receiver edges (nor may the reassigned `p`
            # resolve .fit against its stale class); final r5: a DICT
            # LITERAL's string keys store their values (ObjectLiteral
            # per-key fieldStore) so `cfg['sc'].fit(df)` resolves the
            # stored ctor as its receiver
            abody += (
                "<pre><code>import pandas\nimport sklearn\n"
                "df = pandas.read_csv('g4.csv')\n"
                "m = sklearn.svm.SVC(1.0)\n"
                "f = m.fit\n"
                "r = f(df)\n"
                "p = sklearn.svm.SVC(2.0)\n"
                "p = p.predict(df)\n"
                "p.fit(df)\n"
                "ms = [sklearn.svm.SVC(3.0), sklearn.svm.SVC(4.0)]\n"
                "for mm in ms:\n"
                "    rr = mm.fit(df)\n"
                "cfg = {'sc': sklearn.svm.SVC(5.0), 'dd': df}\n"
                "kk = cfg['sc'].fit(cfg['dd'])\n"
                "ct = m.coef_.T\n"
                "cz = pandas.concat(ct)\n</code></pre>"
            )
            answers.append((aid, abody, votes))
            continue
        if a == 0 and special in (3, 4):
            # interprocedural G3 subset: flows through a user-defined def
            if special == 3:
                # tracked arg INTO the body + returned ctor OUT of it;
                # r5: plus a def-body helper whose receiver is a PARAM,
                # called with two different model classes — the G8
                # call-site-context shape (two fit nodes, distinct
                # receiver edges)
                abody += (
                    "<pre><code>import pandas\nimport sklearn\n"
                    "df = pandas.read_csv('t.csv')\n"
                    "def train(d):\n"
                    "    m = sklearn.svm.SVC(d)\n"
                    "    return m\n"
                    "clf = train(df)\n"
                    "p = clf.predict(df)\n"
                    "def run(m2, d2):\n"
                    "    r2 = m2.fit(d2, 2)\n"
                    "    return r2\n"
                    "s1 = sklearn.svm.SVC(1.0)\n"
                    "s2 = sklearn.linear_model.LinearRegression()\n"
                    "f1 = run(s1, df)\n"
                    "f2 = run(s2, df)\n"
                    "parts = sklearn.model_selection.train_test_split(f1, f2)\n"
                    "</code></pre>"
                )
            else:
                # returned library value used by later calls; r5: plus a
                # DEPTH-2 helper chain — the outer def forwards its
                # params to an earlier helper whose deferred m.fit
                # resolves per OUTER call site (G3 depth-2 + G8 relay)
                abody += (
                    "<pre><code>import pandas\nimport sklearn\n"
                    "def load(path):\n"
                    "    d = pandas.read_csv(path)\n"
                    "    return d\n"
                    "x = load('data.csv')\n"
                    "m = sklearn.svm.SVC(x)\n"
                    "r = m.fit(x, 2)\n"
                    "def fit_it(m3, d3):\n"
                    "    r3 = m3.fit(d3)\n"
                    "    return r3\n"
                    "def run(m4, d4):\n"
                    "    out = fit_it(m4, d4)\n"
                    "    return out\n"
                    "s4 = sklearn.linear_model.LinearRegression()\n"
                    "f4 = run(s4, x)\n"
                    "q4 = pandas.DataFrame(f4)\n</code></pre>"
                )
            answers.append((aid, abody, votes))
            continue
        if _h(seed, page_id, "code", a) % 2 == 0:
            parts = e.split(".")
            mod = parts[0]
            if decoy:
                body_code = "obj = " + parts[-1] + "(data)\n"
            elif etypes.get(e) == "method" and len(parts) > 1:
                # method-shaped: ctor + receiver call (flowsTo-0 chain),
                # plus an attribute read + subscript write on tracked
                # values (~half the snippets) so the G2 reads/writes
                # subset is exercised end-to-end
                klass, meth = ".".join(parts[:-1]), parts[-1]
                kern = ["rbf", "linear", "poly"][_h(seed, page_id, "kern", a) % 3]
                if _h(seed, page_id, "chain", a) % 4 == 0:
                    # chained form: ctor(...).method(...) — collapse path
                    body_code = "result = " + klass + "(data)." + meth + "(x, 3)\n"
                else:
                    # ctor with a constant named hyperparameter (varied) so
                    # the hyperparameter-distribution query has a real
                    # distribution to aggregate
                    body_code = (
                        "obj = " + klass + "(data, kernel='" + kern + "')\n"
                        + "result = obj." + meth + "(x, 3)\n"
                    )
                    if meth == "fit" and _h(seed, page_id, "second", a) % 3 == 0:
                        # fit AND predict on the same model (the
                        # train_test_different_data.sparql shape)
                        body_code += "pred = obj.predict(result)\n"
                if _h(seed, page_id, "rw", a) % 2 == 0:
                    body_code += (
                        "print(result.shape)\n"
                        + "obj['col'] = result\n"
                    )
            else:
                rwh = _h(seed, page_id, "rw", a)
                if rwh % 5 == 0:
                    # multi-line call span + container def-use chain
                    body_code = (
                        "out = " + e + "(\n"
                        "    'input.csv',\n"
                        "    41)\n"
                        "pair = [out, out]\n"
                        "res = " + e + "(pair)\n"
                    )
                else:
                    body_code = "out = " + e + "('input.csv')\n"
                    if rwh % 3 == 0:
                        body_code += "out.columns = ['a']\n"
            abody += "<pre><code>import " + mod + "\n" + body_code + "</code></pre>"
        else:
            abody += "<code>x = 1</code>"  # single-line -> filtered out
        answers.append((aid, abody, votes))

    tags = "<" + _TAG_POOL[_h(seed, page_id, "t1") % len(_TAG_POOL)] + ">" \
        + "<" + _TAG_POOL[_h(seed, page_id, "t2") % len(_TAG_POOL)] + ">"
    qvotes = str(_h(seed, page_id, "qv") % 200)

    ans_html = "".join(
        f'<div class="answer" data-aid="{aid}" data-votes="{v}">'
        f'<div class="abody">{ab}</div></div>'
        for aid, ab, v in answers
    )
    html = (
        "<html><head><title>" + title + "</title></head><body>"
        + f'<div class="question" data-qid="{qid}" data-tags="{tags}" '
        + f'data-votes="{qvotes}"><h1>' + title + "</h1>"
        + f'<div class="qbody">{body_html}</div></div>'
        + ans_html + "</body></html>"
    )
    lang = "en" if _h(seed, page_id, "lang") % 20 else "de"
    ts = _dt.datetime(2024, 1, 1) + _dt.timedelta(seconds=page_id % 86400)
    return {
        "url": f"https://stackoverflow.com/questions/{qid}",
        "warc_ts": ts,
        "html": html.encode("utf-8"),
        "lang": lang,
    }


HUB_ENTITY = "sklearn.svm.SVC.fit"


def synth_pages(
    spark: SparkSession,
    n_pages: int,
    seed: int = 42,
    records: list[dict] | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic page generator.

    ``text`` is filled with the canonical extractor so the table satisfies
    the input_hint contract (reference-extracted text present alongside
    html); the pipeline re-extracts and must match byte-identically.
    """
    from graph4code_spark.html_extract import extract_text

    recs = records if records is not None else FIXED_CATALOG
    names = sorted({entity_name(r) for r in recs})
    etypes = {entity_name(r): entity_type(r) for r in recs}
    hub = HUB_ENTITY if HUB_ENTITY in names else names[0]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for pid in pdf["id"]:
                rec = _page_record(int(pid), seed, names, hub, etypes)
                rec["text"] = extract_text(rec["html"].decode("utf-8"))
                out.append(rec)
            yield pd.DataFrame(out, columns=["url", "warc_ts", "html", "text", "lang"])

    parts = partitions or max(1, min(n_pages // 250, 256))
    return (
        spark.range(0, n_pages, numPartitions=parts)
        .mapInPandas(gen, schema="url string, warc_ts timestamp, html binary, text string, lang string")
    )
