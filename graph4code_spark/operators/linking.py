"""J3/J4/W4: entity→document linking.

The reference probes an Elasticsearch index per catalog entity
(``multi_match … operator: AND`` over the entity's dotted components,
5000-hit cap, then a must-term `good_match` re-check:
`utils.py:253-343`).  `link_entities` is the Spark-native analogue:

- **mention detection** — the catalog (small) is broadcast; a batched
  pandas UDF tokenizes each document's content once with the ES
  analyzer's semantics (`graph4code_spark.analyzer`) and probes an
  inverted token→entities index built from the catalog.  Map-side only,
  no shuffle.
- **AND verification** — all required tokens present in the document's
  token set (ES ``operator: AND``).
- **scoring** — BM25 over the required tokens, the scorer ES applies to
  a single-field ``most_fields`` ``multi_match`` (`utils.py:281-292`):
  Lucene idf ``ln(1 + (N-df+0.5)/(df+0.5))`` times the saturated tf,
  summed over the entity's tokens.  The raw tf sum, then url, break
  ties.
- **cap** — per-entity top-5000 (`utils.py:282`), the one shuffle,
  keyed by entity.  Hub entities (``fit``) are the skewed keys, so the
  cap is the shared salted two-phase window (`functions.salted_top_k`).
- **good_match** — must-term re-check (`utils.py:300-343`).

The straight-line restatement in `reference_impl.emitters.reference_links`
is the oracle: every row, the ``bm25`` doubles included, must equal it.
"""

from __future__ import annotations

import math
from collections import Counter
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph4code_spark.analyzer import (
    _PARTS,
    analyze_joined,
    entity_required_tokens,
    must_terms,
)
from graph4code_spark.functions import salted_top_k
from graph4code_spark.synth import entity_name, entity_type

#: reference result cap per entity query (`utils.py:282`)
ES_RESULT_CAP = 5000

#: Lucene/ES BM25 defaults (the scorer behind `most_fields`)
BM25_K1, BM25_B = 1.2, 0.75

MENTIONS_SCHEMA = (
    "url string, question_id string, entity string, etype string, "
    "score int, good_match boolean, bm25 double"
)


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


def cap_per_entity(links: DataFrame, cap: int = ES_RESULT_CAP) -> DataFrame:
    """Per-entity top-`cap` links (W4): BM25 relevance first (what ES's
    5000-hit window keeps, `utils.py:281-292`), then raw tf sum and url
    as deterministic tiebreaks."""
    order = [F.desc("bm25"), F.desc("score"), F.asc("url")]
    return salted_top_k(links, "entity", "url", order, cap, "rk").drop("rk")


def link_entities(
    qa: DataFrame, catalog_records: list[dict], cap: int = ES_RESULT_CAP
) -> DataFrame:
    """Question documents → (document, entity) links, capped per entity
    by BM25.  Bad matches are kept, with ``good_match`` false: the
    reference caps before it filters, and emission filters on the
    column (J4/F4).

    Each page is tokenized once.  BM25 needs corpus statistics (per-token
    df, doc count, average length) that ES keeps in its index, so one
    scan emits both the per-batch partial statistics and the AND-matched
    candidates with their term-frequency vectors (no page content), and
    is checkpointed.  One tiny aggregate then yields the statistics, and
    a light numpy pass over the candidates alone computes BM25.
    Its doubles are bit-identical to the straight-line reference only if
    the per-term expression and the sorted-token summation order stay as
    written.

    The scan also counts each entity's candidates, so the cap runs only
    when some entity has more than ``cap`` of them: a cap that keeps
    every row is the identity, and skipping it saves its window
    shuffle."""
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
    # stats rows (bounded by catalog size × batches), in exact-int sums
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

    # light rescoring pass: candidates only, no page content
    n = max(n_docs, 1)
    davg = max(total_dl / n_docs, 1.0) if n_docs else 1.0
    idf = {
        t: math.log(1.0 + (n - dfreq.get(t, 0) + 0.5) / (dfreq.get(t, 0) + 0.5))
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
            # vectorized per entity group: the reference's per-term IEEE
            # expression and sorted-token accumulation order (rel starts
            # 0.0, += one term per token column), so every double is
            # bit-identical to its scalar loop
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
    return cap_per_entity(links, cap)
