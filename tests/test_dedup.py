import numpy as np

from graph4code_spark.operators.dedup import (
    embedding_cosine_pairs,
    embedding_neardup,
    exact_dedup,
    duplicate_groups,
    lsh_candidate_pairs,
    minhash_dedup,
    ngram_jaccard_pairs,
    simhash_candidates,
    simhash_signatures,
)

BASE = "the quick brown fox jumps over the lazy dog and runs far away today"
NEAR = "the quick brown fox jumps over the lazy dog and runs far away now"
OTHER = "completely different content about spark partitions and shuffle plans here"


def _docs(spark):
    rows = [
        (0, BASE), (1, BASE),          # exact dupes
        (2, NEAR),                      # near dup of 0/1
        (3, OTHER), (4, OTHER + " x"),  # near dupes of each other
        (5, "tiny"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    d = _docs(spark)
    out = exact_dedup(d, "text", "doc_id")
    ids = {r.doc_id for r in out.collect()}
    assert 0 in ids and 1 not in ids
    assert ids >= {2, 3, 4, 5}
    groups = duplicate_groups(d, "text", "doc_id").collect()
    assert len(groups) == 1 and groups[0]["doc_ids"] == [0, 1]


def test_minhash_dedup_collapses_near_dups(spark):
    d = _docs(spark)
    out = minhash_dedup(d, "text", "doc_id", num_hashes=32, bands=16, threshold=0.6)
    ids = {r.doc_id for r in out.collect()}
    assert 0 in ids           # representative of {0,1,2}
    assert 1 not in ids and 2 not in ids
    assert 5 in ids           # singleton survives


def test_lsh_candidate_pairs_bucket_cap(spark):
    # m identical signatures fill one bucket per band: 64 docs give all
    # 64·63/2 pairs, 65 docs exceed the hub cap and give none
    for m, want in ((64, 2016), (65, 0)):
        sig = spark.createDataFrame([(i, [7, 8, 9, 10]) for i in range(m)],
                                    "id long, sig array<long>")
        pairs = lsh_candidate_pairs(sig, bands=2, num_hashes=4).collect()
        assert len(pairs) == want, m
        assert all(r.a < r.b for r in pairs)


def test_ngram_jaccard_pairs(spark):
    d = _docs(spark)
    pairs = {(r.a, r.b): r.jaccard for r in
             ngram_jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.5).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.5 <= pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs


def _emb(spark, n=40, dim=8, seed=7):
    rs = np.random.RandomState(seed)
    base = rs.normal(size=(n, dim))
    # ids 0/1 and 2/3 are near-duplicate vectors; everything else random
    base[1] = base[0] + rs.normal(scale=0.01, size=dim)
    base[3] = base[2] + rs.normal(scale=0.01, size=dim)
    rows = [(i, [float(x) for x in base[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return df, base


def test_embedding_cosine_pairs_exact(spark):
    df, base = _emb(spark)
    got = {(r.a, r.b): r.cosine for r in
           embedding_cosine_pairs(df, threshold=0.95).collect()}
    v = base.astype(np.float32).astype(np.float64)  # match the float column round-trip
    norms = np.linalg.norm(v, axis=1)
    cos = (v @ v.T) / np.outer(norms, norms)
    want = {(a, b) for a in range(len(v)) for b in range(a + 1, len(v))
            if cos[a, b] >= 0.95}
    assert set(got) == want and {(0, 1), (2, 3)} <= want
    for (a, b), c in got.items():
        assert abs(c - cos[a, b]) < 1e-5


def test_embedding_neardup_lsh(spark):
    df, _ = _emb(spark)
    survivors = {r.vec_id for r in
                 embedding_neardup(df, dim=8, threshold=0.95, n_planes=4).collect()}
    # near-identical vectors land in the same hyperplane bucket -> collapsed
    assert 0 in survivors and 1 not in survivors
    assert 2 in survivors and 3 not in survivors
    # LSH survivors are a superset of the exact-pairs survivors
    exact_drop = {r.b for r in
                  embedding_cosine_pairs(df, 0.95).collect()}
    assert survivors <= set(range(40)) - {1, 3} and survivors >= set(range(40)) - exact_drop


def test_simhash_near_vs_far(spark):
    # simhash locality needs doc length: 60 words, one word edited
    base = " ".join(f"word{i}" for i in range(60))
    near = base.replace("word30", "edited")
    far = " ".join(f"other{i}" for i in range(60))
    d = spark.createDataFrame(
        [(0, base), (1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    sig = simhash_signatures(d, "text", "doc_id")
    # 16 chunks of 4 bits guarantee recall for hamming <= 15
    cand = {(r.a, r.b): r.hamming
            for r in simhash_candidates(sig, max_hamming=12, n_chunks=16).collect()}
    assert cand[(0, 1)] == 0           # identical docs, identical signature
    assert (0, 2) in cand              # one-word edit stays within hamming 12
    assert (0, 3) not in cand          # unrelated docs differ widely
    # determinism across evaluations (stable word hash, no process salt)
    sig2 = {r.id: r.simhash for r in simhash_signatures(d, "text", "doc_id").collect()}
    assert {r.id: r.simhash for r in sig.collect()} == sig2
