"""G10: transitive closure of flowsTo (SPARQL `flowsTo+` restated).

The reference answers `graph4code:flowsTo+` path queries in SPARQL
(`/root/reference/docs/example_queries.md:53-60`,
`usage_queries/find_next_step.sparql:22-27`).  Spark restatement:
semi-naive iteration — each round joins only the **frontier** (paths
discovered last round) against the base edges, unions into the closure,
and stops when the frontier empties.  localCheckpoint per round bounds
lineage; cycles are handled by the distinct-against-closure subtraction,
so iteration always converges (the frontier is strictly new pairs and the
pair space is finite).

Seeding (the 100×-scale path).  The reference usage queries always bind
at least one endpoint of the path (`ensure_multiple_models.sparql`,
`train_test_different_data.sparql`, `find_next_step.sparql:22-27`), so
materializing the FULL closure of every named graph — typically 10-100×
the edge count — just to filter it down afterwards is the one plan that
cannot survive the reference's 1.3M-graph corpus.  ``seeds`` restricts
the iteration to paths that start (``direction="forward"``) or end
(``direction="backward"``) at a seed node, and the base edge set is first
semi-joined down to graphs containing at least one seed, so graphs with
no fit/predict/start node contribute zero join work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph4code_spark.session import local_df


def _driver_closure(edge_rows, seed_rows):
    """Driver-side forward min-hop closure (the small-graph fast path):
    BFS per graph, per start node — same (src, dst, graph, min_hops)
    contract as the distributed iteration, seeds honored identically."""
    from collections import defaultdict, deque

    fwd: dict = defaultdict(lambda: defaultdict(set))
    for s, d, g in edge_rows:
        fwd[g][s].add(d)
    out = []
    for g, graph_adj in fwd.items():
        if seed_rows is None:
            starts = set(graph_adj)
        else:
            starts = {n for n, gg in seed_rows if gg == g}
        for s0 in starts:
            dist: dict = {}
            dq = deque((n, 1) for n in graph_adj.get(s0, ()))
            while dq:
                n, h = dq.popleft()
                if n in dist:
                    continue
                dist[n] = h
                dq.extend((m, h + 1) for m in graph_adj.get(n, ()) if m not in dist)
            out.extend((s0, n, g, h) for n, h in dist.items())
    return out


def flows_to_edges(triples: DataFrame) -> DataFrame:
    """Extract (src, dst, graph) flowsTo edges from the quad table."""
    return triples.where(
        F.col("pred") == "http://purl.org/twc/graph4code/flowsTo"
    ).select(
        F.col("subj").alias("src"), F.col("obj").alias("dst"), "graph"
    ).distinct()


#: below this edge count the closure is computed driver-side (same
#: pattern and rationale as `canonicalize.SMALL_GRAPH_EDGES`: each
#: distributed round costs 2-3 Spark jobs of fixed overhead, which for
#: a catalog-sized subClassOf/isPartOf hierarchy dwarfs the actual work)
SMALL_GRAPH_EDGES = 200_000


def transitive_closure(
    edges: DataFrame,
    max_hops: int | None = None,
    seeds: DataFrame | None = None,
    direction: str = "forward",
    small_graph_threshold: int = SMALL_GRAPH_EDGES,
    stats: dict | None = None,
) -> DataFrame:
    """(src, dst, graph, min_hops) for every reachable pair within the
    same named graph.

    Iterates to CONVERGENCE (empty frontier) by default.  ``max_hops`` is
    a safety valve only: when given and the frontier is still non-empty
    after that many rounds, raises RuntimeError instead of silently
    truncating (a truncated closure would quietly disagree with the
    unbounded SPARQL `+` semantics and its oracles).

    ``seeds`` — optional (node, graph) DataFrame.  When provided, only
    pairs whose ``src`` (direction="forward") or ``dst``
    (direction="backward") is a seed are computed; base edges are
    pre-filtered to graphs containing at least one seed.  The result is
    identical to computing the full closure and filtering that endpoint,
    at a fraction of the join work.  A backward closure is the forward
    closure of the reversed edges with its endpoints swapped back.

    ``small_graph_threshold`` — when the (seed-pruned) edge set is at
    most this many rows, the closure runs driver-side (BFS) and the
    result comes back as an Arrow-built frame (``local_df``) whose scans
    start no Python worker: a docstrings-hierarchy closure is a few
    hundred edges, and 3-5 distributed rounds of fixed job overhead cost
    more than the entire BFS.  Pass 0 to force the distributed path
    (the scale tests do).  ``stats`` (optional dict) records which path
    ran, like `canonicalize.connected_components`.
    """
    if direction not in ("forward", "backward"):
        raise ValueError(f"direction must be forward|backward, got {direction!r}")
    if direction == "backward":
        # paths ending at a seed are the forward paths of the reversed
        # edges starting at it, endpoints swapped back
        rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "graph")
        out = transitive_closure(rev, max_hops, seeds, "forward", small_graph_threshold, stats)
        return out.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "graph", "min_hops"
        )
    base = edges.select("src", "dst", "graph").distinct()
    seed_nodes = None
    if seeds is not None:
        seed_nodes = seeds.select("node", "graph").distinct()
        # graphs with no seed contribute nothing — drop their edges before
        # any iteration (semi-join, no shuffle of the seed side: tiny)
        base = base.join(seed_nodes.select("graph").distinct(), "graph", "left_semi")
    if small_graph_threshold:
        # one bounded collect: more than threshold rows means distributed
        edge_rows = base.limit(small_graph_threshold + 1).collect()
        if len(edge_rows) <= small_graph_threshold:
            rows = _driver_closure(
                [(r["src"], r["dst"], r["graph"]) for r in edge_rows],
                None if seed_nodes is None
                else [(r["node"], r["graph"]) for r in seed_nodes.collect()],
            )
            if stats is not None:
                stats.update(path="driver", rounds=0)
            return local_df(
                edges.sparkSession, rows,
                "src string, dst string, graph string, min_hops int",
            )
    base = base.localCheckpoint(eager=True)
    if stats is not None:
        stats.update(path="distributed")
    if seed_nodes is not None:
        first = base.join(
            seed_nodes.withColumnRenamed("node", "src"), ["src", "graph"], "left_semi"
        )
    else:
        first = base
    closure = first.withColumn("hops", F.lit(1)).localCheckpoint(eager=True)
    frontier = closure
    rounds = 1
    while True:
        # extend paths at the dst end: (seed..f_dst) + (f_dst -> e_dst)
        hop = (
            frontier.select(
                F.col("src").alias("f_src"), F.col("dst").alias("f_dst"),
                F.col("graph").alias("graph"), F.col("hops").alias("f_hops"),
            )
            .join(
                base.select(
                    F.col("src").alias("e_src"), F.col("dst").alias("e_dst"),
                    F.col("graph").alias("e_graph"),
                ),
                on=[F.col("f_dst") == F.col("e_src"), F.col("graph") == F.col("e_graph")],
            )
            .select(
                F.col("f_src").alias("src"), F.col("e_dst").alias("dst"),
                F.col("graph"), (F.col("f_hops") + 1).alias("hops"),
            )
        )
        nxt = hop.join(
            closure.select("src", "dst", "graph"), ["src", "dst", "graph"], "left_anti"
        ).distinct()
        nxt = nxt.localCheckpoint(eager=True)
        if nxt.isEmpty():
            break
        rounds += 1
        if max_hops is not None and rounds > max_hops:
            raise RuntimeError(
                f"transitive_closure: frontier still non-empty after max_hops="
                f"{max_hops} rounds — refusing to truncate silently"
            )
        closure = closure.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return closure.groupBy("src", "dst", "graph").agg(F.min("hops").alias("min_hops"))
