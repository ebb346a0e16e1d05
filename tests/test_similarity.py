import math

import numpy as np
from pyspark.sql import functions as F

from graph4code_spark.operators.similarity import (
    brute_force_topk,
    cosine_expr,
    ivf_assign,
    ivf_topk,
    lsh_topk,
)


def _vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _queries(spark):
    return spark.createDataFrame(
        [(100, [1.0, 0.05, 0.0, 0.0])], "query_id long, query_vec array<float>"
    )


def test_brute_force_topk_order(spark):
    out = brute_force_topk(_vecs(spark), _queries(spark), k=3).collect()
    got = [(r.vec_id, r.rank) for r in sorted(out, key=lambda r: r.rank)]
    assert [v for v, _ in got] == [0, 1, 2]
    by_id = {r.vec_id: r.cosine for r in out}
    assert math.isclose(by_id[0], 1 / math.sqrt(1.0025), rel_tol=1e-6)


def test_lsh_topk_finds_same_bucket_neighbors(spark):
    out = lsh_topk(_vecs(spark), _queries(spark), dim=4, k=3, n_planes=4).collect()
    ids = [r.vec_id for r in sorted(out, key=lambda r: r.rank)]
    # the true nearest neighbor shares every hyperplane sign with the query
    assert ids[0] == 0
    # the antipodal vector can never share the bucket
    assert 4 not in ids


def test_ivf_assignment_is_single_list_and_deterministic(spark):
    v = _vecs(spark)
    a1 = {(r.id, r.list_id) for r in ivf_assign(v, "embedding", "vec_id", 4, 4, 42).collect()}
    a2 = {(r.id, r.list_id) for r in ivf_assign(v, "embedding", "vec_id", 4, 4, 42).collect()}
    assert a1 == a2
    assert len(a1) == 5  # nprobe=1 -> exactly one list per vector
    # nprobe=2 probes two lists per vector
    a3 = ivf_assign(v, "embedding", "vec_id", 4, 4, 42, nprobe=2).collect()
    assert len(a3) == 10


def test_ivf_topk_self_query_ranks_first(spark):
    v = _vecs(spark)
    # query a vector that is IN the dataset: it always lands in its own
    # probed list, so rank 1 is itself with cosine 1.0
    q = v.selectExpr("vec_id as query_id", "embedding as query_vec").where("query_id = 2")
    out = ivf_topk(v, q, dim=4, k=3, n_lists=2, nprobe=1).collect()
    top = min(out, key=lambda r: r.rank)
    assert top.vec_id == 2 and math.isclose(top.cosine, 1.0, rel_tol=1e-9)
    # IVF results are a subset of the probed lists, re-ranked exactly:
    # every returned cosine appears in the brute-force scoring too
    bf = {(r.query_id, r.vec_id): r.cosine
          for r in brute_force_topk(v, q, k=5).collect()}
    for r in out:
        assert math.isclose(bf[(r.query_id, r.vec_id)], r.cosine, rel_tol=1e-9)


def test_cosine_expr_is_a_left_fold(spark):
    # the oracles rely on the fold order of DuckDB's list_dot_product:
    # cosine_expr must equal a left-to-right Python fold bit for bit
    def fold(x, y):
        acc = 0.0
        for a, b in zip(x, y):
            acc = acc + a * b
        return acc

    rs = np.random.RandomState(3)
    rows = [(i, [float(x) for x in rs.normal(size=64)], [float(x) for x in rs.normal(size=64)])
            for i in range(50)]
    df = spark.createDataFrame(rows, "i long, a array<double>, b array<double>")
    got = {r.i: r.c for r in
           df.select("i", cosine_expr(F.col("a"), F.col("b")).alias("c")).collect()}
    for i, a, b in rows:
        want = fold(a, b) / (math.sqrt(fold(a, a)) * math.sqrt(fold(b, b)))
        assert got[i] == want, i
