"""J3/J4/W4: entity→document linking.

The reference probes an Elasticsearch index per catalog entity
(``multi_match … operator: AND`` over the entity's dotted components,
5000-hit cap, then a must-term `good_match` re-check:
`/root/reference/src/utils.py:253-343`).  The Spark-native analogue:

- **mention detection** — the catalog (small) is broadcast; a batched
  pandas UDF tokenizes each document's content once with the exact ES
  analyzer semantics (`graph4code_spark.analyzer`) and probes an inverted
  token→entities index built from the broadcast catalog.  Map-side only:
  zero shuffle, the vectorized equivalent of the ES index probe.
- **AND verification** — all required tokens present in the document's
  token set (ES ``operator: AND``).
- **scoring** — BM25 over the required tokens, the same scoring family
  ES applies to a single-field ``most_fields`` ``multi_match``
  (`utils.py:281-292`): Lucene idf ``ln(1 + (N-df+0.5)/(df+0.5))`` times
  the saturated tf, summed over the entity's tokens.  The corpus stats
  (per-token df, doc count, average field length) that ES keeps in its
  index are computed by ONE extra corpus pass with a map-side partial
  aggregate (`corpus_token_stats`) and broadcast — tiny (bounded by the
  catalog's token vocabulary).  The raw tf sum is kept as the
  deterministic tiebreak (then url).
- **cap** — per-entity top-5000 via a rank window (`utils.py:282`);
  this is the one shuffle, keyed by entity.  Hub entities (``fit``) are
  exactly the skewed keys; AQE skew-join/partition splitting plus the cap
  itself bound the damage, mirroring the reference's silent truncation.
  The scan counts each entity's candidates, and the cap runs only when
  some entity has more than 5000.
- **good_match** — must-term re-check (`utils.py:300-343`), vectorized.
"""

from __future__ import annotations

import math
from collections import Counter
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graph4code_spark.analyzer import (
    _PARTS,
    analyze_joined,
    entity_required_tokens,
    must_terms,
)
from graph4code_spark.synth import entity_name, entity_type

#: reference result cap per entity query (`utils.py:282`)
ES_RESULT_CAP = 5000

#: Lucene/ES BM25 defaults (the scorer behind `most_fields`)
BM25_K1, BM25_B = 1.2, 0.75

MENTIONS_SCHEMA = (
    "url string, question_id string, entity string, etype string, "
    "score int, good_match boolean, bm25 double"
)


def bm25_score(tf_by_token: dict, dl: int, stats: "CorpusStats") -> float:
    """Sum of per-token BM25 contributions — the straight-line formula
    shared by the Spark UDF and the reference_impl oracle (both CPython,
    so the doubles are bit-identical on both sides)."""
    n, avgdl, df = stats.n_docs, stats.avgdl, stats.df
    s = 0.0
    # sorted: float summation order must not depend on set/dict hash
    # order (string hashing is per-process randomized — driver vs
    # executor would otherwise sum in different orders)
    for t, tf in sorted(tf_by_token.items()):
        idf = math.log(1.0 + (n - df.get(t, 0) + 0.5) / (df.get(t, 0) + 0.5))
        s += idf * (tf * (BM25_K1 + 1.0)) / (
            tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl)
        )
    return s


class CorpusStats:
    """Broadcastable index statistics: per-catalog-token document
    frequency, document count, average analyzed length."""

    def __init__(self, df: dict, n_docs: int, avgdl: float):
        self.df, self.n_docs, self.avgdl = df, max(n_docs, 1), max(avgdl, 1.0)


def corpus_token_stats(qa: DataFrame, catalog_records: list[dict]) -> CorpusStats:
    """ONE corpus pass for the stats ES amortizes inside its index:
    per-doc analyzed length + which catalog tokens the doc contains.
    The aggregate output is bounded by the catalog token vocabulary
    (small), so the collect is a few thousand rows regardless of corpus
    size; in the staged pipeline this runs once and is checkpointed."""
    entities, _ = build_entity_index(catalog_records)
    vocab = sorted({t for _, _, _, req in entities for t in req})
    vocab_set = set(vocab)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for url, content in zip(pdf["url"], pdf["content"]):
                # raw findall + case-fold distinct keys only (same token
                # semantics as `analyze`; ~3× fewer .lower() calls)
                toks = _PARTS.findall(content)
                dl = len(toks)
                out.append((url, dl, None))
                seen_toks = {k.lower() for k in set(toks)}
                for t in seen_toks & vocab_set:
                    out.append((url, dl, t))
            yield pd.DataFrame(out, columns=["url", "dl", "tok"])

    raw = qa.select("url", "content").mapInPandas(
        run, schema="url string, dl int, tok string"
    )
    # ONE aggregation job: the NULL-token group carries (n_docs, avgdl),
    # every other group is a per-token df — map-side partial agg, result
    # bounded by the catalog vocabulary
    rows = raw.groupBy("tok").agg(
        F.count(F.lit(1)).alias("c"), F.avg("dl").alias("a")
    ).collect()
    df: dict = {}
    n_docs, avgdl = 0, 0.0
    for r in rows:
        if r["tok"] is None:
            n_docs, avgdl = r["c"], float(r["a"] or 0.0)
        else:
            df[r["tok"]] = r["c"]
    return CorpusStats(df, n_docs, avgdl)


def build_entity_index(catalog_records: list[dict]):
    """Broadcast-side structures: per-entity required-token sets and an
    inverted index keyed by each entity's rarest (longest) token."""
    entities = []
    for rec in catalog_records:
        name = entity_name(rec)
        etype = entity_type(rec)
        if etype == "method":
            required = entity_required_tokens(rec["klass"], rec["function"])
            qualified = rec["klass"] + "." + rec["function"]
        else:
            required = entity_required_tokens(name)
            qualified = name
        if not required:
            continue
        entities.append((name, etype, qualified, required))
    index: dict[str, list[int]] = {}
    for i, (_, _, _, required) in enumerate(entities):
        probe = max(required, key=lambda t: (len(t), t))
        index.setdefault(probe, []).append(i)
    return entities, index


def detect_mentions(
    qa: DataFrame, catalog_records: list[dict], stats: CorpusStats | None = None
) -> DataFrame:
    """Question documents → candidate (document, entity) links.

    Output: one row per (url, entity) with the AND-match tf score, the
    `good_match` verdict, and the BM25 relevance (the ES `most_fields`
    score the reference caps by).  Bad matches are kept (the reference
    caps before filtering them).  Without ``stats`` the BM25 column
    degrades to the raw tf sum (the pre-round-4 proxy) — the full path
    (`link_entities`) always passes stats.

    Everything loop-invariant is hoisted to UDF-construction time and
    shipped in the broadcast closure: per-token Lucene idf (stats are
    frozen for the run), per-entity sorted required-token tuples, and
    per-entity must-term pairs for `good_match`.  The per-candidate
    float expressions are kept textually identical to `bm25_score` (and
    to the straight-line reference_impl oracle) — same operand order,
    same summation order (sorted tokens) — so hoisting is bit-exact."""
    entities, index = build_entity_index(catalog_records)
    index_keys = frozenset(index)
    # loop-invariant precomputation (idf depends only on the frozen stats)
    idf: dict[str, float] = {}
    if stats is not None:
        n, davg, dfm = stats.n_docs, stats.avgdl, stats.df
        for t in {tok for _, _, _, req in entities for tok in req}:
            idf[t] = math.log(1.0 + (n - dfm.get(t, 0) + 0.5) / (dfm.get(t, 0) + 0.5))
    k1p1 = BM25_K1 + 1.0
    # per-entity: (name, etype, sorted required tuple, required set,
    #              [(must_lower, must_analyzed)] for good_match)
    prepped = []
    for name, etype, qualified, required in entities:
        musts = [(m.lower(), analyze_joined(m)) for m in must_terms(qualified)]
        prepped.append((name, etype, tuple(sorted(required)), required, musts))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for url, qid, content in zip(pdf["url"], pdf["question_id"], pdf["content"]):
                toks = _PARTS.findall(content)
                dl = len(toks)
                # count raw tokens in the C fast path, then case-fold only
                # the distinct keys (~3× fewer .lower() calls than per-token)
                counts: dict[str, int] = {}
                for k, v in Counter(toks).items():
                    lk = k.lower()
                    counts[lk] = counts.get(lk, 0) + v
                tokset = counts.keys()
                # identical expression/order to bm25_score's denominator
                kden = BM25_K1 * (1.0 - BM25_B + BM25_B * dl / stats.avgdl) \
                    if stats is not None else 0.0
                content_lower = content.lower()
                seen: set[int] = set()
                # C-level set intersection: probe only the (few) index
                # keys present instead of dict-probing every doc token
                for t in index_keys & tokset:
                    for ei in index[t]:
                        if ei in seen:
                            continue
                        seen.add(ei)
                        name, etype, req_sorted, required, musts = prepped[ei]
                        if required <= tokset:
                            score = 0
                            rel = 0.0
                            if stats is not None:
                                for r in req_sorted:
                                    tf = counts[r]
                                    score += tf
                                    rel += idf[r] * (tf * k1p1) / (tf + kden)
                            else:
                                for r in req_sorted:
                                    score += counts[r]
                                rel = float(score)
                            gm = all(
                                ml in content_lower or mj in content_lower
                                for ml, mj in musts
                            )
                            out.append(
                                (url, qid, name, etype, score, gm, rel)
                            )
            yield pd.DataFrame(
                out,
                columns=["url", "question_id", "entity", "etype", "score",
                         "good_match", "bm25"],
            )

    return qa.select("url", "question_id", "content").mapInPandas(
        run, schema=MENTIONS_SCHEMA
    )


def cap_per_entity(
    links: DataFrame, cap: int = ES_RESULT_CAP, salt_buckets: int = 0
) -> DataFrame:
    """Per-entity top-`cap` by score (W4) — deterministic rank window.

    At 100 TB this is the skewed shuffle: hub entities take the most rows.
    With ``salt_buckets > 0`` the cap runs in two phases over a **salted
    key** (north-rule hub defense): phase 1 ranks within
    (entity, hash(url) % S) so no single task sees a hub's full row set
    and each bucket keeps ≤ cap rows; phase 2 ranks the ≤ S·cap survivors
    per entity.  Output is identical to the unsalted window (verified by
    tests); the unsalted path additionally relies on AQE skew splitting.

    Ordering: BM25 relevance first (what ES's 5000-hit window keeps,
    `utils.py:281-292`), raw tf sum then url as deterministic tiebreaks.
    Links produced without corpus stats carry bm25 == tf, so the legacy
    ordering is a degenerate case of the same window."""
    order = [F.desc("bm25"), F.desc("score"), F.asc("url")]
    if salt_buckets > 0:
        salt = F.pmod(F.xxhash64("url"), F.lit(salt_buckets))
        w1 = Window.partitionBy("entity", salt).orderBy(*order)
        pre = (
            links.withColumn("rk", F.row_number().over(w1))
            .where(F.col("rk") <= cap)
            .drop("rk")
        )
    else:
        pre = links
    w = Window.partitionBy("entity").orderBy(*order)
    return (
        pre.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= cap)
        .drop("rk")
    )


def link_entities(
    qa: DataFrame, catalog_records: list[dict], cap: int = ES_RESULT_CAP,
    salt_buckets: int = 16,
) -> DataFrame:
    """Full J3+W4 path: detect → cap. `good_match` retained as a column
    (J4/F4); emission filters on it like the reference does.

    The cap runs salted by default (north-rule hub defense): at 10^12
    pages the hub entities (`fit`) dominate the entity key, and phase 1
    bounds any task to ≤ cap rows per (entity, salt) bucket.  Output is
    identical to the unsalted window; measured overhead at bench scale
    is ~1%.  Pass ``salt_buckets=0`` to fall back to the plain window
    (AQE skew splitting only).

    The cap cut is ordered by BM25 (ES `most_fields` semantics).

    **Single-tokenization plan** (round 4): the naive composition
    (`corpus_token_stats` then `detect_mentions`) tokenizes every page
    TWICE — once for the index statistics, once for detection.  ES
    amortizes both in its inverted index; the Spark-native analogue is
    one heavy scan that emits BOTH the per-doc stats contributions and
    the AND-matched candidates with their term-frequency vectors, cached
    as a small intermediate (no page content in it).  The global stats
    are then aggregated JVM-side and broadcast into a *light* rescoring
    pass over candidates only (~a few rows per page, a few floats each).
    BM25 stays in CPython on both passes' data with the exact
    `bm25_score` expressions and sorted-token summation order, so the
    result is bit-identical to the two-pass composition (and to the
    straight-line reference_impl oracle).

    The scan's stats rows also count each entity's candidates, so the
    cap runs only when some entity has more than ``cap`` of them: a cap
    that keeps every row is the identity, and skipping it saves its
    window shuffle."""
    entities, index = build_entity_index(catalog_records)
    index_keys = frozenset(index)
    vocab_set = {t for _, _, _, req in entities for t in req}
    req_sorted_by_id = [tuple(sorted(req)) for _, _, _, req in entities]
    musts_by_id = [
        [(m.lower(), analyze_joined(m)) for m in must_terms(qualified)]
        for _, _, qualified, _ in entities
    ]

    scan_schema = (
        "url string, question_id string, dl int, tok string, "
        "cnt long, sumdl long, entity_id int, tfs array<int>, gm boolean"
    )
    cols = ["url", "question_id", "dl", "tok", "cnt", "sumdl",
            "entity_id", "tfs", "gm"]

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # candidate columns (one row per AND-matched (doc, entity))
            c_url: list = []
            c_qid: list = []
            c_dl: list = []
            c_ei: list = []
            c_tfs: list = []
            c_gm: list = []
            # map-side partial index statistics: per-token df plus the
            # batch (doc count, summed length) anchor — the classic
            # partial-aggregate move, done where the content already is
            # so only O(vocab) stats rows leave the scan
            df_part: dict[str, int] = {}
            n_b = 0
            sumdl_b = 0
            for url, qid, content in zip(pdf["url"], pdf["question_id"], pdf["content"]):
                toks = _PARTS.findall(content)
                dl = len(toks)
                counts: dict[str, int] = {}
                for k, v in Counter(toks).items():
                    lk = k.lower()
                    counts[lk] = counts.get(lk, 0) + v
                tokset = counts.keys()
                n_b += 1
                sumdl_b += dl
                for t in vocab_set & tokset:
                    df_part[t] = df_part.get(t, 0) + 1
                content_lower = content.lower()
                seen: set[int] = set()
                for t in index_keys & tokset:
                    for ei in index[t]:
                        if ei in seen:
                            continue
                        seen.add(ei)
                        required = entities[ei][3]
                        if required <= tokset:
                            c_url.append(url)
                            c_qid.append(qid)
                            c_dl.append(dl)
                            c_ei.append(ei)
                            c_tfs.append([counts[r] for r in req_sorted_by_id[ei]])
                            c_gm.append(all(
                                ml in content_lower or mj in content_lower
                                for ml, mj in musts_by_id[ei]
                            ))
            # stats rows (no document): per-token df, per-entity
            # candidate counts, then the (doc count, summed length) anchor
            e_part = Counter(c_ei)
            nc, nt, ne = len(c_url), len(df_part), len(e_part)
            ns = nt + ne + 1
            # typed nullable columns (not object) — cheaper Arrow path
            yield pd.DataFrame({
                "url": pd.array(c_url + [None] * ns, dtype="string"),
                "question_id": pd.array(c_qid + [None] * ns, dtype="string"),
                "dl": pd.array(c_dl + [None] * ns, dtype="Int32"),
                "tok": pd.array([None] * nc + list(df_part) + [None] * (ne + 1),
                                dtype="string"),
                "cnt": pd.array([None] * nc + list(df_part.values())
                                + list(e_part.values()) + [n_b], dtype="Int64"),
                "sumdl": pd.array([None] * (nc + ns - 1) + [sumdl_b],
                                  dtype="Int64"),
                "entity_id": pd.array(c_ei + [None] * nt + list(e_part) + [None],
                                      dtype="Int32"),
                "tfs": c_tfs + [None] * ns,
                "gm": pd.array(c_gm + [None] * ns, dtype="boolean"),
            }, columns=cols)

    # Materialize the scan ONCE: the stats aggregation and the rescore
    # pass both read it.  localCheckpoint (not .cache()) so the blocks
    # are freed by the ContextCleaner when the result DataFrame is
    # dropped — repeated invocations in one session (bench ladders)
    # don't accumulate entries in the cache registry.  In the staged
    # pipeline this boundary is a parquet checkpoint (plans/pipeline.py),
    # which is the cluster-grade equivalent.
    scanned = (
        qa.select("url", "question_id", "content")
        .mapInPandas(scan, schema=scan_schema)
        .localCheckpoint(eager=True)
    )

    # global index statistics: ONE tiny aggregation over the partial
    # stats rows (bounded by catalog size × batches).  Exact-int
    # sums; avgdl = total_dl / n_docs is the same double as Spark's
    # avg-over-ints in corpus_token_stats (long sum, one final divide).
    candidate = F.col("dl").isNotNull()  # stats rows have no document
    rows = (
        scanned.where(~candidate)
        .groupBy("tok", "entity_id")
        .agg(F.sum("cnt").alias("c"), F.sum("sumdl").alias("s"))
        .collect()
    )
    dfreq: dict = {}
    n_docs, total_dl, most_candidates = 0, 0, 0
    for r in rows:
        if r["tok"] is not None:
            dfreq[r["tok"]] = int(r["c"])
        elif r["entity_id"] is not None:
            most_candidates = max(most_candidates, int(r["c"]))
        else:
            n_docs, total_dl = int(r["c"] or 0), int(r["s"] or 0)
    stats = CorpusStats(dfreq, n_docs, (total_dl / n_docs) if n_docs else 0.0)

    # light rescoring pass: candidates only, no page content
    n, davg, dfm = stats.n_docs, stats.avgdl, stats.df
    idf = {
        t: math.log(1.0 + (n - dfm.get(t, 0) + 0.5) / (dfm.get(t, 0) + 0.5))
        for t in vocab_set
    }
    k1p1 = BM25_K1 + 1.0
    meta_by_id = [(name, etype) for name, etype, _, _ in entities]

    out_cols = ["url", "question_id", "entity", "etype", "score",
                "good_match", "bm25"]

    def rescore(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(
                    {c: pd.Series(dtype=object) for c in out_cols},
                    columns=out_cols)
                continue
            # vectorized per entity group: same per-term IEEE expression
            # and the same sorted-token accumulation order as bm25_score
            # (rel starts 0.0, += one term per token column), so every
            # double is bit-identical to the scalar loop
            dl_all = pdf["dl"].to_numpy(dtype=np.float64)
            kden_all = BM25_K1 * (1.0 - BM25_B + BM25_B * dl_all / davg)
            ei_all = pdf["entity_id"].to_numpy(dtype=np.int64)
            parts = []
            for ei in np.unique(ei_all):
                m = ei_all == ei
                ei = int(ei)
                T = np.array(list(pdf["tfs"].to_numpy()[m]), dtype=np.float64)
                kd = kden_all[m]
                rel = np.zeros(T.shape[0], dtype=np.float64)
                for j, r in enumerate(req_sorted_by_id[ei]):
                    tf = T[:, j]
                    rel += idf[r] * (tf * k1p1) / (tf + kd)
                name, etype = meta_by_id[ei]
                parts.append(pd.DataFrame({
                    "url": pdf["url"].to_numpy()[m],
                    "question_id": pdf["question_id"].to_numpy()[m],
                    "entity": name,
                    "etype": etype,
                    "score": T.sum(axis=1).astype(np.int32),
                    "good_match": pdf["gm"].to_numpy()[m].astype(bool),
                    "bm25": rel,
                }, columns=out_cols))
            yield pd.concat(parts, ignore_index=True)

    links = (
        scanned.where(candidate)
        .select("url", "question_id", "dl", "entity_id", "tfs", "gm")
        .mapInPandas(rescore, schema=MENTIONS_SCHEMA)
    )
    if most_candidates <= cap:
        return links
    return cap_per_entity(links, cap, salt_buckets=salt_buckets)
