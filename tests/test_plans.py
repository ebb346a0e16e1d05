"""Physical-plan assertions: the plans we designed for are the plans we
get (pushdown, pruning, broadcasts, no stray shuffles on narrow paths)."""

import os

from pyspark.sql import functions as F

import __spark_entry__ as E
from graph4code_spark.html_extract import with_extracted_text
from graph4code_spark.synth import synth_pages

SF = os.environ.get("SPARK_GRAFT_SF_DIR_T2", "/root/testdata/sf0.01")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_column_pruning(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .where(F.col("l_shipdate") <= "1995-01-01")
        .select("l_orderkey", "l_quantity")
    )
    p = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # pruned scan: only the three referenced columns are read
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double,l_shipdate" in p


def test_mentions_join_is_broadcast(spark):
    p = _plan(E.q_kg_mentions(spark, SF))
    # terms side broadcast for the non-equi contains probe …
    assert "BroadcastNestedLoopJoin BuildRight" in p
    # … and the ntoks verification is a broadcast hash join
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_dim_joins_broadcast(spark):
    p = _plan(E.q_join_region_drilldown(spark, SF))
    assert p.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in p


def test_extract_path_is_narrow(spark):
    # html→text extraction must not shuffle: one Arrow pass over the scan
    pages = synth_pages(spark, 50, seed=1)
    p = _plan(with_extracted_text(pages))
    assert "Exchange" not in p
    assert "MapInPandas" in p


def test_topk_uses_take_ordered(spark):
    p = _plan(E.q_topk_event_types(spark, SF))
    assert "TakeOrderedAndProject" in p


def _windows(p: str) -> int:
    import re

    return len(re.findall(r"\bWindow\b", p))


def _exchanges(p: str) -> list:
    import re

    return re.findall(
        r"Exchange (hashpartitioning\([^,#]*|rangepartitioning\([^,#]*|SinglePartition)", p
    )


# --- top-5 bench-query plan pins (VERDICT r4 #4): a future round that
# reintroduces an Exchange / global sort / unpartitioned window fails
# here deterministically instead of showing up as bench noise. ---


def test_pack_sequences_plan_pinned(spark):
    """Exactly one window, partitioned by _bucket; the 64-row bucket
    totals join is broadcast; the only shuffles are the deterministic
    range partition and the _bucket hash."""
    p = _plan(E.queries_full()["pack_sequences"](spark, SF))
    assert _windows(p) == 1
    assert "windowspecdefinition(_bucket" in p
    ex = _exchanges(p)
    assert len(ex) == 2 and "SinglePartition" not in ex, ex
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p


def test_top_modules_volume_plan_pinned(spark):
    """Single wide hash aggregate + TakeOrdered — no window, no sort,
    exactly one shuffle (the agg exchange)."""
    p = _plan(E.queries_full()["top_modules_volume"](spark, SF))
    assert _windows(p) == 0
    assert "TakeOrderedAndProject" in p
    ex = _exchanges(p)
    assert len(ex) == 1 and ex[0].startswith("hashpartitioning"), ex
    assert "SortMergeJoin" not in p


def test_corpus_pipeline_plan_pinned(spark):
    """redact→decontaminate→line-dedup→gate→pack composes to exactly
    two designed shuffles (deterministic range partition + _bucket
    hash); the packing window stays _bucket-partitioned."""
    p = _plan(E.queries_full()["corpus_pipeline"](spark, SF))
    ex = _exchanges(p)
    assert len(ex) == 2 and "SinglePartition" not in ex, ex
    assert _windows(p) == 1
    assert "windowspecdefinition(_bucket" in p
    assert "SortMergeJoin" not in p


def test_linking_cap_windows_all_partitioned(spark):
    """The BM25-ordered salted cap runs as partitioned windows only —
    no Exchange SinglePartition anywhere in the full forum pipeline
    (the global-window collapse would be the 100-TB killer).  No entity
    of the registered query's 300 pages exceeds the default 5000 cap, so
    its pipeline plan holds no cap; the same pipeline with a cap the hub
    entity exceeds holds it."""
    from graph4code_spark.emitters.forum import forum_triples
    from graph4code_spark.operators.linking import link_entities
    from graph4code_spark.sources.qa import extract_qa
    from graph4code_spark.synth import FIXED_CATALOG

    qa = extract_qa(synth_pages(spark, 300, seed=42))
    links = link_entities(qa, FIXED_CATALOG)
    p = _plan(forum_triples(links, qa, FIXED_CATALOG).dropDuplicates())
    assert p.count("Exchange SinglePartition") == 0
    assert _windows(p) == 0
    assert "SortMergeJoin" not in p

    links = link_entities(qa, FIXED_CATALOG, cap=10)
    p = _plan(forum_triples(links, qa, FIXED_CATALOG).dropDuplicates())
    assert p.count("Exchange SinglePartition") == 0
    assert _windows(p) == 4  # salted + final cap, two linking legs
    assert "SortMergeJoin" not in p


def test_mining_plan_pinned(spark):
    """Expression mining: hash-agg → TakeOrdered; the only shuffle is
    the count aggregate's (the ≤10-row label window's SinglePartition
    exchange is post-limit and bounded — allowed)."""
    p = _plan(E.queries_full()["semforms_expressions"](spark, SF))
    assert "TakeOrderedAndProject" in p
    hashex = [e for e in _exchanges(p) if e.startswith("hashpartitioning")]
    assert len(hashex) == 1, hashex


def test_whole_stage_codegen_on_textstats(spark):
    # quality features are pure column exprs: single Project over the
    # scan — no Python eval nodes, no aggregation shuffle (AQE hides the
    # WholeStageCodegen markers pre-execution, so assert the absence of
    # anything that would break codegen instead)
    p = _plan(E.q_text_quality(spark, SF))
    assert "MapInPandas" not in p and "BatchEvalPython" not in p
    assert "Exchange hashpartitioning" not in p


def test_semforms_corpus_plan_pinned(spark):
    """Corpus-spine dataflow mining: one Arrow-batched MapInPandas
    extraction (zero-shuffle), then the vocabulary-keyed hash-agg and
    TakeOrdered — same shape as semforms_expressions with the extractor
    swapped in; no SortMergeJoin, exactly one hash shuffle."""
    p = _plan(E.queries_full()["semforms_corpus"](spark, SF))
    assert "MapInPandas" in p  # the tracker runs per page partition
    assert "TakeOrderedAndProject" in p
    hashex = [e for e in _exchanges(p) if e.startswith("hashpartitioning")]
    assert len(hashex) == 1, hashex
    assert "SortMergeJoin" not in p
