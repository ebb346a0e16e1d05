"""Text analysis operators: the word split and word k-grams the other
text operators build on, language-ID, quality columns, token counting,
repetition signals and document fingerprinting.  All pure
`pyspark.sql.functions` column expressions, no Python UDF; the
`transform`/`filter` lambdas evaluate interpreted.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# n-gram heuristic language ID: stopword hit-rates per language
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for", "with", "how", "can", "this"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf", "ich"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pour", "dans", "que", "je"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "para", "en", "que", "no"],
}

#: BPE-ish token regex: words, numbers, or single non-space symbols —
#: the standard pre-tokenization shape for byte-pair encoders
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"

#: `repetition_features` reads only a document's first words
REPETITION_MAX_WORDS = 200


def words(text: Column) -> Column:
    """The lowercased words of ``text``: the one word split of the text
    operators (an empty text is the single word ``""``)."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def word_kgrams(text: Column, k: int) -> Column:
    """All word ``k``-grams of the lowercased text, in order; a doc
    shorter than ``k`` words yields its whole text as the single gram
    (the minimal witness, so no doc silently opts out)."""
    w = words(text)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(w) - (k - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(w, i, k), " "),
    )


def whitespace_token_count(text: Column) -> Column:
    """The number of `words` of ``text``; 0 for a blank text."""
    return F.when(F.trim(text) == "", 0).otherwise(F.size(words(text)))


def bpe_token_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), 0))


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    sw = F.array(*[F.lit(s) for s in _STOPWORDS[lang]])
    w = words(text)
    hits = F.size(F.filter(w, lambda x: F.array_contains(sw, x)))
    return hits / F.greatest(F.size(w), F.lit(1))


def detect_language(text: Column) -> Column:
    """argmax of per-language stopword hit-rate; 'und' when nothing hits."""
    scores = F.array(
        *[
            F.struct(stopword_ratio(text, lg).alias("score"), F.lit(lg).alias("lang"))
            for lg in _STOPWORDS
        ]
    )
    best = F.array_max(scores)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def punct_ratio(text: Column) -> Column:
    """Share of the characters that are neither word characters nor
    whitespace (unrounded)."""
    punct = F.size(F.regexp_extract_all(text, F.lit(r"[^\w\s]"), 0))
    return punct / F.greatest(F.length(text), F.lit(1))


def quality_columns(text: Column) -> list[Column]:
    """The per-doc quality columns of the standard web-corpus filters:
    ``q_chars``, ``q_words``, and the English stopword and punctuation
    ratios rounded to 6 places."""
    return [
        F.length(text).cast("long").alias("q_chars"),
        whitespace_token_count(text).cast("long").alias("q_words"),
        F.round(stopword_ratio(text, "en"), 6).alias("q_stopword_ratio"),
        F.round(punct_ratio(text), 6).alias("q_punct_ratio"),
    ]


def repetition_features(df: DataFrame, text_col: str) -> DataFrame:
    """Gopher-style repetition signals: duplicate-word fraction and
    top-bigram fraction, computed over the first `REPETITION_MAX_WORDS`
    words so per-doc work is bounded (quadratic in that cap, worst case,
    for the bigram mode count) regardless of document length — at corpus
    scale a runaway 10 MB document must not dominate its task.  Pure
    column expressions."""
    t = F.col(text_col)
    w = F.slice(words(t), 1, REPETITION_MAX_WORDS)
    n = F.size(w)
    dup_word = F.when(
        n > 0, 1 - F.size(F.array_distinct(w)) / n.cast("double")
    ).otherwise(F.lit(0.0))
    grams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(" ", F.element_at(w, i), F.element_at(w, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ng = F.size(grams)
    top_bigram = F.when(
        ng > 0,
        F.array_max(
            F.transform(
                F.array_distinct(grams),
                lambda x: F.size(F.filter(grams, lambda e: e == x)),
            )
        ).cast("double") / ng,
    ).otherwise(F.lit(0.0))
    return df.select(
        "*",
        F.round(dup_word, 6).alias("rep_dup_word_frac"),
        F.round(top_bigram, 6).alias("rep_top_bigram_frac"),
    )


def doc_fingerprint(text: Column) -> Column:
    """Winnowing fingerprint: the least md5 of the word 5-grams (of the
    whole text when shorter) — stable under small edits."""
    return F.array_min(F.transform(word_kgrams(text, 5), lambda g: F.md5(g)))
