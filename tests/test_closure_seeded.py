"""Seeded transitive closure (VERDICT r2 #1): when a usage query binds
one endpoint, the closure must iterate only from the bound nodes instead
of materializing the full reachability relation of every graph.

Corpus shape mirrors the scale concern: 100 named graphs, each a chain,
but fewer than 5% of them contain a seed ("fit") node.  The seeded path
must (a) agree exactly with full-closure-then-filter, and (b) touch a
small fraction of the rows the unseeded closure materializes.
"""

from collections import defaultdict

import pyspark.sql.functions as F
import pytest

from __spark_entry__ import _reach
from graph4code_spark.operators.closure import transitive_closure

N_GRAPHS = 100
CHAIN = 8  # nodes per graph
SEED_GRAPHS = (7, 41, 93)  # 3% of graphs contain the bound endpoint


def _edges(spark):
    rows = []
    for g in range(N_GRAPHS):
        graph = f"http://g.example/{g}"
        for i in range(CHAIN - 1):
            rows.append((f"g{g}n{i}", f"g{g}n{i+1}", graph))
        # a back edge so cycles are exercised
        rows.append((f"g{g}n{CHAIN-1}", f"g{g}n{CHAIN//2}", graph))
    return spark.createDataFrame(rows, "src string, dst string, graph string")


def _seeds(spark):
    # the "fit" node sits mid-chain in the seed graphs
    rows = [(f"g{g}n{CHAIN-2}", f"http://g.example/{g}") for g in SEED_GRAPHS]
    return spark.createDataFrame(rows, "node string, graph string")


_COLS = ["src", "dst", "graph", "min_hops"]


def test_backward_seeded_matches_filtered_full_closure(spark):
    # force the distributed iteration: the seeded-pruning property is
    # what's under test, not the small-graph driver fast path
    edges, seeds = _edges(spark), _seeds(spark)
    full = transitive_closure(edges, small_graph_threshold=0)
    expected = sorted(
        full.join(
            seeds.withColumnRenamed("node", "dst"), ["dst", "graph"], "left_semi"
        ).select(*_COLS).collect()
    )
    got = sorted(
        transitive_closure(
            edges, seeds=seeds, direction="backward", small_graph_threshold=0
        )
        .join(seeds.withColumnRenamed("node", "dst"), ["dst", "graph"], "left_semi")
        .select(*_COLS).collect()
    )
    assert got == expected
    # and the seeded closure materializes far less than the full closure
    n_seeded = transitive_closure(
        edges, seeds=seeds, direction="backward", small_graph_threshold=0
    ).count()
    n_full = full.count()
    assert n_seeded < n_full * 0.10, (n_seeded, n_full)


def test_forward_seeded_matches_filtered_full_closure(spark):
    edges, seeds = _edges(spark), _seeds(spark)
    full = transitive_closure(edges, small_graph_threshold=0)
    expected = sorted(
        full.join(
            seeds.withColumnRenamed("node", "src"), ["src", "graph"], "left_semi"
        ).select(*_COLS).collect()
    )
    got = sorted(
        transitive_closure(
            edges, seeds=seeds, direction="forward", small_graph_threshold=0
        )
        .select(*_COLS).collect()
    )
    assert got == expected
    # the usage-query oracles' flowsTo+ (`_reach`, per graph from each
    # seed) gives the same pairs
    adj = defaultdict(lambda: defaultdict(set))
    for r in edges.collect():
        adj[r.graph][r.src].add(r.dst)
    assert {
        (s.node, d, s.graph) for s in seeds.collect() for d in _reach(adj[s.graph], [s.node])
    } == {(r.src, r.dst, r.graph) for r in got}


def test_convergence_handles_cycles_without_cap(spark):
    # pure 3-cycle: unbounded `+` semantics, finite pair space
    edges = spark.createDataFrame(
        [("a", "b", "g"), ("b", "c", "g"), ("c", "a", "g")],
        "src string, dst string, graph string",
    )
    rows = transitive_closure(edges, small_graph_threshold=0).collect()
    assert len(rows) == 9  # every ordered pair incl. self-loops via the cycle
    hops = {(r.src, r.dst): r.min_hops for r in rows}
    assert hops[("a", "a")] == 3 and hops[("a", "b")] == 1 and hops[("a", "c")] == 2
    adj = {"a": {"b"}, "b": {"c"}, "c": {"a"}}
    assert {(s, d) for s in adj for d in _reach(adj, [s])} == set(hops)


def test_max_hops_raises_instead_of_truncating(spark):
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}", "g") for i in range(6)],
        "src string, dst string, graph string",
    )
    with pytest.raises(RuntimeError, match="max_hops"):
        transitive_closure(edges, max_hops=2, small_graph_threshold=0)
    # a sufficient cap converges normally
    assert (
        transitive_closure(edges, max_hops=10, small_graph_threshold=0).count()
        == 6 * 7 // 2
    )


def test_driver_fast_path_matches_distributed(spark):
    # same inputs through both paths (seeded and unseeded): identical
    # (src, dst, graph, min_hops) sets.  The thresholds bracket the
    # bounded collect: exactly the (seed-pruned) edge count stays on the
    # driver, one fewer distributes.
    edges, seeds = _edges(spark), _seeds(spark)
    seeded = len(SEED_GRAPHS) * CHAIN
    for kwargs, n_edges in (
        ({}, N_GRAPHS * CHAIN),
        ({"seeds": seeds, "direction": "backward"}, seeded),
        ({"seeds": seeds, "direction": "forward"}, seeded),
    ):
        stats_d: dict = {}
        via_driver = sorted(
            transitive_closure(
                edges, small_graph_threshold=n_edges, stats=stats_d, **kwargs
            ).select(*_COLS).collect()
        )
        assert stats_d["path"] == "driver"
        stats_x: dict = {}
        via_dist = sorted(
            transitive_closure(
                edges, small_graph_threshold=n_edges - 1, stats=stats_x, **kwargs
            ).select(*_COLS).collect()
        )
        assert stats_x["path"] == "distributed"
        assert via_driver == via_dist
