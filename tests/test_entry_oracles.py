"""Driver-style correctness harness: every queries() entry with an oracle
is executed at sf0.01 and compared to DuckDB (row count + column names +
order-insensitive value multiset)."""

import builtins
import math
import os
from collections import Counter

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_T2", "/root/testdata/sf0.01")

#: built once: building every oracle takes seconds (straight-line
#: recomputations), and each parity case needs only its own
ORACLES = entry_mod.oracle_sql_full()

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


def _canon(v):
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    return str(v)


def _multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_canon(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, con, name):
    q = entry_mod.queries_full()[name]
    sdf = q(spark, SF_DIR)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]

    odf = con.sql(ORACLES[name])
    o_cols = list(odf.columns)
    o_rows = odf.fetchall()

    assert sorted(s_cols) == sorted(o_cols), f"{name}: column mismatch {s_cols} vs {o_cols}"
    assert len(s_rows) == len(o_rows), f"{name}: rowcount {len(s_rows)} vs {len(o_rows)}"
    sm, om = _multiset(s_cols, s_rows), _multiset(o_cols, o_rows)
    if sm != om:
        diff = list((sm - om).items())[:3] + list((om - sm).items())[:3]
        raise AssertionError(f"{name}: value mismatch, e.g. {diff}")


def test_missing_reference_file_fails_only_its_oracle(con, tmp_path):
    missing = str(tmp_path / "absent.nq")

    def reads_reference():
        with open(missing) as f:
            return f.read()

    sql = entry_mod._build_oracle(reads_reference)
    with pytest.raises(duckdb.Error, match=f"missing reference file: {missing}"):
        con.sql(sql).fetchall()
    assert entry_mod._build_oracle("SELECT 1 AS x") == "SELECT 1 AS x"



def _clear_oracle_caches():
    for fn in vars(entry_mod).values():
        if callable(getattr(fn, "cache_clear", None)):
            fn.cache_clear()


def test_oracles_share_one_reference_corpus(monkeypatch):
    """One `oracle_sql_full()` runs the straight-line forum pipeline
    once (its oracle corpus is cached like `_oracle_corpus`), builds the
    usage-query oracles' analysis index once, and each
    composed family's oracle is the spine union of the SQL its
    registered components already built."""
    from graph4code_spark.reference_impl import emitters

    calls = []
    real = emitters.forum_pipeline_quads

    def counted(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(emitters, "forum_pipeline_quads", counted)
    _clear_oracle_caches()
    oracles = entry_mod.oracle_sql_full()
    assert len(calls) == 1
    # the usage-query oracles read one analysis index, built once
    assert entry_mod._oracle_analysis.cache_info().misses == 1
    assert oracles == ORACLES

    full = entry_mod.queries_full()
    for family, parts in entry_mod._FAMILIES.items():
        for _part, name, _mapping in parts:
            assert name in full and name in oracles, (family, name)
        assert oracles[family] == entry_mod._spine_union_sql(
            [(oracles[name], part, mapping) for part, name, mapping in parts]
        ), family

def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    n = df.count()
    assert n > 0
    assert df.columns == ["subj", "pred", "obj", "is_literal", "arg_pos", "arg_name", "graph"]


def test_curated_contract_shape(monkeypatch):
    """The driver records at most 50 CORRECTNESS rows: the curated
    contract must hold exactly 50 entries, every one present in the full
    registry, and every one strict (has an oracle).  The S8/S12/A6 sink
    round trip is a part of a curated family whose oracles open no file,
    so its record evidence holds without the reference checkout."""
    cur, osql = entry_mod.queries(), entry_mod.oracle_sql()
    full = entry_mod.queries_full()
    assert len(cur) == 50
    assert set(cur) <= set(full)
    assert set(cur) == set(osql)
    for name, fn in cur.items():
        assert full[name] is fn

    families = [
        family for family, parts in entry_mod._FAMILIES.items()
        if any(name == "kg_sink_roundtrip" for _part, name, _mapping in parts)
    ]
    assert len(families) == 1 and families[0] in cur, families
    opened = []
    real_open = builtins.open

    def recording_open(path, *args, **kwargs):
        opened.append(path)
        return real_open(path, *args, **kwargs)

    monkeypatch.setattr(builtins, "open", recording_open)
    _clear_oracle_caches()
    parts = [name for _part, name, _mapping in entry_mod._FAMILIES[families[0]]]
    entry_mod._oracle_sqls([families[0], *parts])
    assert opened == [], opened


def test_rows_only_queries_run(spark):
    qs = entry_mod.queries_full()
    for name in qs:
        if name in ORACLES:
            continue
        df = qs[name](spark, SF_DIR)
        assert df.count() >= 0, name
