"""Corpus-hygiene operators a web-scale training-data pipeline runs
between crawl and tokenizer: PII redaction, CCNet-style frequent-line
removal, and benchmark decontamination.

All three are pure `pyspark.sql.functions` column expressions plus the
minimum shuffles their semantics require — no Python UDF.  Lines and
grams are built on `textstats.words`/`textstats.word_kgrams`, the one
word split of the text operators.

Scale notes (the 100 TB shapes):
- PII redaction is a stateless map — zero shuffle, scales with input.
- Frequent-line removal is one hash-aggregate over exploded lines
  (map-side partial combine), an anti-join of the exploded lines against
  the (small, skew-free: it only keeps lines above the threshold)
  frequent set — AQE turns it into a broadcast when it fits — and one
  reassembly aggregate keyed by doc id.  At 10^12 docs the frequent set
  is the classic bloom-filter candidate; the anti-join stays correct
  either way.
- Decontamination broadcasts the benchmark n-gram set (benchmarks are
  KB-to-MB scale vs the TB corpus) so the corpus side is a single
  map-side explode + broadcast join + per-doc count: one shuffle, keyed
  by doc id, no skew (per-doc gram counts are bounded by doc length).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graph4code_spark.operators.textstats import word_kgrams, words

#: detection patterns restricted to the syntax shared by Java regex
#: (Spark) and RE2 (DuckDB oracles): no backrefs, no lookaround.
#: Order matters and is applied sequentially: emails are redacted before
#: IPv4 so a dotted quad inside a hostname is not double-counted.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d[\d ()-]{6,}\d", "<PHONE>"),
)


def pii_features(df: DataFrame, text_col: str) -> DataFrame:
    """Append per-type PII match counts and a fully redacted text column.

    Counts are taken on the progressively redacted text (email count on
    the raw text, IPv4 count after emails are replaced, …) so an IPv4
    embedded in an email host counts once, as email.  Stateless map —
    no shuffle.
    """
    redacted: Column = F.col(text_col)
    counts = []
    for name, pat, token in PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(redacted, F.lit(pat), F.lit(0)))
            .cast("int")
            .alias(f"pii_{name}")
        )
        redacted = F.regexp_replace(redacted, pat, token)
    return df.select("*", *counts, redacted.alias(f"{text_col}_redacted"))


def frequent_lines(
    df: DataFrame, id_col: str, lines_col: str, min_docs: int
) -> DataFrame:
    """Distinct normalized lines appearing in at least ``min_docs``
    distinct documents → one column ``line``.  One exploded
    hash-aggregate; the in-doc `array_distinct` makes the per-(line,doc)
    stream unique so a plain count replaces count(distinct)."""
    return (
        df.select(
            F.col(id_col).alias("_id"),
            F.explode(
                F.array_distinct(
                    F.transform(F.col(lines_col), lambda x: F.lower(F.trim(x)))
                )
            ).alias("line"),
        )
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select("line")
    )


def word_lines(text: Column, c: int) -> Column:
    """The lowercased words of ``text`` chunked into lines of ``c`` words
    (the last line may be shorter): the line shape `drop_frequent_lines`
    runs on for text without newlines."""
    w = words(text)
    return F.transform(
        F.sequence(F.lit(1), F.ceil(F.size(w) / F.lit(float(c))).cast("int")),
        lambda i: F.array_join(F.slice(w, (i - 1) * c + 1, c), " "),
    )


def drop_frequent_lines(
    df: DataFrame, id_col: str, lines_col: str, min_docs: int
) -> DataFrame:
    """CCNet-style boilerplate removal: delete every line that occurs in
    ``min_docs``-or-more distinct documents (cookie banners, nav bars,
    share buttons dominate a web crawl's duplicate mass at the LINE
    level long before whole documents repeat).

    Returns the input ids with ``lines_kept`` (original order and case
    preserved), ``n_lines`` (original count) and ``n_dropped``.  Docs
    whose every line was boilerplate survive with an empty array.
    """
    freq = frequent_lines(df, id_col, lines_col, min_docs)
    exploded = df.select(
        F.col(id_col),
        F.posexplode(F.col(lines_col)).alias("pos", "line_raw"),
    ).withColumn("line", F.lower(F.trim("line_raw")))
    kept = (
        exploded.join(freq, "line", "left_anti")
        .groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line_raw"))),
                lambda s: s["line_raw"],
            ).alias("lines_kept")
        )
    )
    kept_arr = F.coalesce(F.col("lines_kept"), F.array().cast("array<string>"))
    return (
        df.select(F.col(id_col), F.size(F.col(lines_col)).alias("n_lines"))
        .join(kept, id_col, "left")
        .select(
            id_col,
            kept_arr.alias("lines_kept"),
            F.col("n_lines").cast("int"),
            (F.col("n_lines") - F.size(kept_arr)).cast("int").alias("n_dropped"),
        )
    )


def contaminated_doc_ids(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 13,
) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing at least one word
    ``k``-gram with any benchmark document → (id, n_shared_grams).

    The benchmark gram set is broadcast (benchmarks are tiny next to the
    corpus); the corpus side is a map-side explode of per-doc-distinct
    grams, a broadcast inner join, and one count keyed by doc id.
    """
    bench_grams = bench.select(
        F.explode(F.array_distinct(word_kgrams(F.col(text_col), k))).alias("gram")
    ).distinct()
    corpus_grams = corpus.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_kgrams(F.col(text_col), k))).alias("gram"),
    )
    return (
        corpus_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_grams"))
    )
