"""Entity canonicalization: alias edges → connected components → mapping.

The reference only has the symmetric two-way alias map (`classes.map`,
`/root/reference/src/create_docstrings_graph.py:628-635`) giving pairwise
`aliasOf` edges.  The north rule requires true canonicalization: alias
CHAINS (a↔b, b↔c) must collapse to one representative, which is a
connected-components problem.

Implementation: the two-phase **large-star / small-star** algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond") as
iterative DataFrame self-joins — O(log n) rounds on any graph shape, each
round a groupBy-min plus a join, so it survives hub-entity skew far
better than naive label propagation (a hub's million neighbors reduce via
partial aggregation on the map side; no single reducer sees the raw
neighbor list).  Rounds are localCheckpoint'd to cut lineage growth.

IDs are entity-name strings; the component representative is the
lexicographic minimum, which makes the mapping deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph4code_spark.session import local_df
from graph4code_spark.uris import PREFIXES


def symmetric_alias_edges(class_map: DataFrame) -> DataFrame:
    """(name_a, name_b) pairs → undirected edge list (src, dst), both
    directions, self-loops removed (reference inserts pairs symmetrically
    and skips identical names)."""
    e = class_map.select(
        F.col("name_a").alias("src"), F.col("name_b").alias("dst")
    ).where(F.col("name_a") != F.col("name_b"))
    return e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor larger than u to u's min neighbor."""
    und = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = und.groupBy("src").agg(F.min("dst").alias("mn"))
    mins = mins.select("src", F.least(F.col("src"), F.col("mn")).alias("m"))
    return (
        und.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor ≤ u (and u itself) to the minimum."""
    # orient edges from larger to smaller endpoint
    e = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    mins = e.groupBy("src").agg(F.min("dst").alias("m"))
    out = (
        e.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .unionByName(mins.select(F.col("src"), F.col("m").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    return out


#: below this many (deduped) edges the component graph is collected and
#: solved with driver-side union-find — the per-round Spark overhead of
#: the iterative algorithm (4 shuffles + a convergence job) dwarfs the
#: actual work.  Same adaptive philosophy as broadcast-vs-shuffle join
#: selection; at 10^12-document scale the edge set exceeds the threshold
#: and the distributed large-star/small-star path engages.  The mapping
#: comes back as an Arrow-built frame (``local_df``), so downstream scans
#: of it start no Python worker.
SMALL_GRAPH_EDGES = 200_000
#: bound on the large-star/small-star rounds of the distributed path
MAX_ROUNDS = 25


def _union_find_mapping(edge_rows) -> list[tuple[str, str]]:
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by lexicographic minimum keeps the canon deterministic
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(n, find(n)) for n in parent if find(n) != n]


def connected_components(
    edges: DataFrame,
    small_graph_threshold: int = SMALL_GRAPH_EDGES,
    stats: dict | None = None,
) -> DataFrame:
    """Edge list (src,dst) → mapping (name, canon), canon = component min.

    Nodes absent from any edge are their own canon and are not emitted.
    ``stats``, when given, is filled with {"path": "unionfind"|
    "distributed", "rounds": n} so tests can assert O(log n) convergence.
    """
    cur = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    if small_graph_threshold:
        # one bounded collect: more than threshold rows means distributed
        edge_rows = cur.limit(small_graph_threshold + 1).collect()
        if len(edge_rows) <= small_graph_threshold:
            rows = _union_find_mapping((r[0], r[1]) for r in edge_rows)
            if stats is not None:
                stats.update(path="unionfind", rounds=0)
            return local_df(edges.sparkSession, rows, "name string, canon string")
    cur = cur.localCheckpoint(eager=True)
    prev_sig = None
    rounds = 0
    for _ in range(MAX_ROUNDS):
        cur = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        rounds += 1
        # convergence: edge-set signature (count + hash sum) is stable
        sig = cur.select(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
        ).first()
        sig = (sig["n"], sig["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    if stats is not None:
        stats.update(path="distributed", rounds=rounds)
    # after convergence the graph is a union of stars centered at minima
    mapping = (
        cur.select(
            F.greatest("src", "dst").alias("name"), F.least("src", "dst").alias("canon")
        )
        .groupBy("name")
        .agg(F.min("canon").alias("canon"))
    )
    return mapping


def canonical_mapping(class_map: DataFrame) -> DataFrame:
    """Alias pairs → (name, canon)."""
    return connected_components(symmetric_alias_edges(class_map))


def same_as_triples(mapping: DataFrame) -> DataFrame:
    """Materialize the mapping as owl:sameAs quads in the docstrings graph
    (the Spark-native replacement for per-pair aliasOf chains)."""
    from graph4code_spark.functions import explode_quads, quad
    from graph4code_spark.uris import DOCSTRINGS_GRAPH

    py = PREFIXES["py"]
    owl = PREFIXES["owl"]
    quads = F.array(
        quad(
            F.concat(F.lit(py), F.col("name")),
            owl + "sameAs",
            F.concat(F.lit(py), F.col("canon")),
            False,
            DOCSTRINGS_GRAPH,
        )
    )
    return explode_quads(mapping, quads)


def canonicalize_triples(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite py: entity URIs in subj/obj to their component canon.

    The mapping is tiny relative to the quad table → broadcast joins, no
    shuffle of the big side; literals are untouched."""
    py = PREFIXES["py"]
    m = F.broadcast(mapping)

    t = triples.withColumn(
        "_sname",
        F.when(F.col("subj").startswith(py), F.expr(f"substring(subj, {len(py) + 1})")),
    ).withColumn(
        "_oname",
        F.when(
            (~F.col("is_literal")) & F.col("obj").startswith(py),
            F.expr(f"substring(obj, {len(py) + 1})"),
        ),
    )
    t = (
        t.join(m.withColumnRenamed("name", "_sname").withColumnRenamed("canon", "_scanon"),
               "_sname", "left")
        .join(m.withColumnRenamed("name", "_oname").withColumnRenamed("canon", "_ocanon"),
              "_oname", "left")
    )
    return t.select(
        F.when(F.col("_scanon").isNotNull(), F.concat(F.lit(py), F.col("_scanon")))
        .otherwise(F.col("subj"))
        .alias("subj"),
        "pred",
        F.when(F.col("_ocanon").isNotNull(), F.concat(F.lit(py), F.col("_ocanon")))
        .otherwise(F.col("obj"))
        .alias("obj"),
        "is_literal",
        "arg_pos",
        "arg_name",
        "graph",
    )
