"""Corpus-hygiene operators: PII redaction, frequent-line removal,
benchmark decontamination (`graph4code_spark/operators/scrub.py`)."""

import re

from pyspark.sql import functions as F

from graph4code_spark.operators.scrub import (
    PII_PATTERNS,
    contaminated_doc_ids,
    drop_frequent_lines,
    pii_features,
)
from graph4code_spark.operators.textstats import word_kgrams

_PII_DOCS = [
    (1, "mail a.b_c%x+1@foo-bar.example.COM and 10.0.255.7 now"),
    (2, "call +1 (555) 012-3456 or +44 20 7946 0000; no@tld fails"),
    (3, "ip inside host 1.2.3.4@h.io stays email; bare 999.1.2.3 is ipv4"),
    (4, "nothing sensitive here"),
    (5, ""),
]


def _py_redact(text):
    counts = {}
    for name, pat, token in PII_PATTERNS:
        counts[name] = len(re.findall(pat, text))
        text = re.sub(pat, token, text)
    return counts, text


def test_pii_features_matches_python_re(spark):
    df = pii_features(
        spark.createDataFrame(_PII_DOCS, "id long, text string"), "text"
    )
    for row in df.orderBy("id").collect():
        raw = dict(_PII_DOCS)[row["id"]]
        counts, redacted = _py_redact(raw)
        assert (row["pii_email"], row["pii_ipv4"], row["pii_phone"]) == (
            counts["email"],
            counts["ipv4"],
            counts["phone"],
        ), raw
        assert row["text_redacted"] == redacted


def test_pii_is_shuffle_free(spark):
    df = pii_features(
        spark.createDataFrame(_PII_DOCS, "id long, text string"), "text"
    )
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()


_LINE_DOCS = [
    (1, ["cookie banner", "real content one", "Cookie Banner "]),
    (2, ["cookie banner", "unique two"]),
    (3, ["COOKIE BANNER", "unique three", "nav bar"]),
    (4, ["nav bar", "unique four"]),
    (5, ["cookie banner"]),
]


def test_drop_frequent_lines_normalizes_and_preserves_order(spark):
    df = spark.createDataFrame(_LINE_DOCS, "id long, lines array<string>")
    out = {
        r["id"]: r
        for r in drop_frequent_lines(df, "id", "lines", min_docs=3).collect()
    }
    # "cookie banner" appears (normalized) in docs 1, 2, 3, 5 -> dropped;
    # "nav bar" only in 3 and 4 -> kept
    assert out[1]["lines_kept"] == ["real content one"]
    assert (out[1]["n_lines"], out[1]["n_dropped"]) == (3, 2)
    assert out[2]["lines_kept"] == ["unique two"]
    assert out[3]["lines_kept"] == ["unique three", "nav bar"]
    assert out[4]["lines_kept"] == ["nav bar", "unique four"]
    assert out[5]["lines_kept"] == [] and out[5]["n_dropped"] == 1


def test_word_kgrams_short_doc_yields_whole_text(spark):
    df = spark.range(1).select(
        word_kgrams(F.lit("Only two"), 5).alias("g"),
        word_kgrams(F.lit("a b c d"), 3).alias("g3"),
        word_kgrams(F.lit(""), 3).alias("empty"),
        word_kgrams(F.lit("  one  "), 3).alias("one"),
        word_kgrams(F.lit("A b\tC"), 3).alias("exact_k"),
    )
    row = df.first()
    assert row["g"] == ["only two"]
    assert row["g3"] == ["a b c", "b c d"]
    assert row["empty"] == [""]
    assert row["one"] == ["one"]
    assert row["exact_k"] == ["a b c"]


def test_contaminated_doc_ids(spark):
    corpus = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the dog"),
            (11, "quick brown fox jumps again and again"),
            (12, "totally unrelated words in this doc"),
        ],
        "id long, text string",
    )
    bench = spark.createDataFrame(
        [(99, "THE QUICK BROWN FOX jumps high")], "id long, text string"
    )
    out = {
        r["id"]: r["n_shared_grams"]
        for r in contaminated_doc_ids(corpus, bench, "id", "text", k=4).collect()
    }
    # bench 4-grams: {the quick brown fox, quick brown fox jumps,
    #                 brown fox jumps high}
    assert out == {10: 2, 11: 1}


def test_contamination_join_is_broadcast(spark):
    corpus = spark.createDataFrame([(1, "a b c d e")], "id long, text string")
    bench = spark.createDataFrame([(2, "a b c d")], "id long, text string")
    plan = (
        contaminated_doc_ids(corpus, bench, "id", "text", k=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" not in plan


def test_pii_java_regex_matches_duckdb_re2_on_fuzzed_text(spark):
    """The PII oracle recomputes the regexes in DuckDB (RE2); Spark runs
    them on the JVM.  Fuzz 300 strings over a hostile alphabet and
    assert count + redaction parity engine-to-engine."""
    import random

    import duckdb

    alphabet = list("ab1. @+-%_()x9") + ["@@", "..", "10.0", "+1 ", ".com"]
    rnd = random.Random(0)
    texts = [
        "".join(rnd.choice(alphabet) for _ in range(rnd.randint(0, 40)))
        for _ in range(300)
    ]
    df = pii_features(
        spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "id long, text string"
        ),
        "text",
    )
    got = {
        r["id"]: (r["pii_email"], r["pii_ipv4"], r["pii_phone"], r["text_redacted"])
        for r in df.collect()
    }
    con = duckdb.connect()
    for i, t in enumerate(texts):
        s, counts = t, []
        for _, pat, token in PII_PATTERNS:
            counts.append(
                con.sql("SELECT len(regexp_extract_all(?, ?))", params=[s, pat])
                .fetchone()[0]
            )
            s = con.sql(
                "SELECT regexp_replace(?, ?, ?, 'g')", params=[s, pat, token]
            ).fetchone()[0]
        assert got[i] == (*counts, s), (i, t)
