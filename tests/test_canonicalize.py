"""Connected-components canonicalization (large-star/small-star)."""

import hashlib

from graph4code_spark.operators.canonicalize import (
    canonical_mapping,
    canonicalize_triples,
    connected_components,
    same_as_triples,
)
from graph4code_spark.schemas import CLASS_MAP_SCHEMA
from graph4code_spark.synth import FIXED_CLASS_MAP, class_map_df


def _uf_components(edges):
    """Oracle union-find."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_alias_chain_closure(spark):
    mapping = {
        r["name"]: r["canon"]
        for r in canonical_mapping(class_map_df(spark)).collect()
    }
    # the SVC chain has three names; canon is the lexicographic min
    assert mapping["sklearn.svm.classes.SVC"] == "sklearn.svm.SVC"
    assert mapping["sklearn.svm._classes.SVC"] == "sklearn.svm.SVC"
    assert mapping["pandas.core.frame.DataFrame"] == "pandas.DataFrame"
    assert "sklearn.svm.SVC" not in mapping  # roots map to themselves


def test_random_graph_vs_union_find(spark):
    # deterministic pseudo-random graph with chains, stars and singletons
    edges = []
    for i in range(300):
        h = int(hashlib.md5(f"e{i}".encode()).hexdigest(), 16)
        a, b = f"n{h % 97}", f"n{(h // 97) % 89}"
        if a != b:
            edges.append((a, b))
    df = spark.createDataFrame(edges, "src string, dst string")
    want = {n: c for n, c in _uf_components(edges).items() if n != c}
    # small-graph fast path (driver union-find)
    got_fast = {r["name"]: r["canon"] for r in connected_components(df).collect()}
    assert got_fast == want
    # distributed large-star/small-star path (forced), and thresholds at
    # the bounded-collect boundary: n edges → fast, n - 1 → distributed
    n_edges = len(set(edges))
    for threshold, path in ((0, "distributed"), (n_edges, "unionfind"),
                            (n_edges - 1, "distributed")):
        stats: dict = {}
        got = {
            r["name"]: r["canon"]
            for r in connected_components(
                df, small_graph_threshold=threshold, stats=stats).collect()
        }
        assert got == want, threshold
        assert stats["path"] == path, threshold


def test_same_as_and_rewrite(spark):
    cm = class_map_df(spark, FIXED_CLASS_MAP)
    mapping = canonical_mapping(cm)
    sa = same_as_triples(mapping)
    rows = {(r.subj, r.obj) for r in sa.collect()}
    py = "http://purl.org/twc/graph4code/python/"
    assert (py + "sklearn.svm._classes.SVC", py + "sklearn.svm.SVC") in rows

    triples = spark.createDataFrame(
        [
            (py + "sklearn.svm.classes.SVC", "http://p/x",
             py + "pandas.core.frame.DataFrame",
             False, None, None, "http://g.example/g"),
            (py + "other.Name", "http://p/x", "a literal", True, None, None,
             "http://g.example/g"),
        ],
        "subj string, pred string, obj string, is_literal boolean, "
        "arg_pos int, arg_name string, graph string",
    )
    out = {(r.subj, r.obj) for r in canonicalize_triples(triples, mapping).collect()}
    assert (py + "sklearn.svm.SVC", py + "pandas.DataFrame") in out
    assert (py + "other.Name", "a literal") in out
