from pyspark.sql import functions as F

from graph4code_spark.operators.textstats import (
    bpe_token_count,
    detect_language,
    doc_fingerprint,
    quality_columns,
    whitespace_token_count,
)


def test_token_counts(spark):
    df = spark.createDataFrame(
        [("hello world, it's 42 degrees!",), ("",)], "text string"
    )
    rows = df.select(
        whitespace_token_count(F.col("text")).alias("ws"),
        bpe_token_count(F.col("text")).alias("bpe"),
    ).collect()
    assert rows[0]["ws"] == 5
    # hello | world | , | it | ' | s | 42 | degrees | !
    assert rows[0]["bpe"] == 9
    assert rows[1]["ws"] == 0


def test_language_detection(spark):
    df = spark.createDataFrame(
        [
            ("the cat is in the house and it is happy",),
            ("der hund ist nicht in der wohnung und ich bin da",),
            ("xyzzy plugh qwertz",),
        ],
        "text string",
    )
    langs = [r[0] for r in df.select(detect_language(F.col("text"))).collect()]
    assert langs == ["en", "de", "und"]


def test_quality_and_fingerprint(spark):
    good = "the quick brown fox jumps over the lazy dog and keeps running for a while longer"
    bad = "!!! ??? ### $$$ %%%"
    short = "Three Word doc"
    df = spark.createDataFrame([(1, good), (2, bad), (3, short)], "id long, text string")
    q = {r.id: r for r in df.select("id", *quality_columns(F.col("text"))).collect()}
    # good: 16 words, 5 stopwords (the, the, and, for, a), no punctuation
    assert (q[1].q_chars, q[1].q_words) == (len(good), 16)
    assert (q[1].q_stopword_ratio, q[1].q_punct_ratio) == (0.3125, 0.0)
    # bad: 15 of its 19 characters are punctuation, rounded to 6 places
    assert (q[2].q_words, q[2].q_stopword_ratio, q[2].q_punct_ratio) == (5, 0.0, 0.789474)

    fp = df.select("id", doc_fingerprint(F.col("text")).alias("fp"))
    fps = {r.id: r.fp for r in fp.collect()}
    # the least md5 of the word 5-grams ("the quick brown fox jumps")
    assert fps[1] == "170077285ecc90bfc4f817925c083ee9"
    # shorter than 5 words: md5 of the whole lowercased text, "three word doc"
    assert fps[3] == "aa3638b3b0661a1990cc4ff447ac887f"
    assert fps[2] != fps[1]


def test_repetition_features(spark):
    from graph4code_spark.operators.textstats import repetition_features

    loopy = "spam spam spam spam"          # dup words, one dominant bigram
    varied = "one two three four five six"  # all distinct
    df = spark.createDataFrame([(1, loopy), (2, varied)], "id long, text string")
    out = {r.id: r for r in repetition_features(df, "text").collect()}
    # loopy: 4 words 1 distinct -> dup 0.75; 3 bigrams all "spam spam" -> 1.0
    assert abs(out[1].rep_dup_word_frac - 0.75) < 1e-9
    assert abs(out[1].rep_top_bigram_frac - 1.0) < 1e-9
    # varied: no duplicate words, every bigram unique (1/5)
    assert out[2].rep_dup_word_frac == 0.0
    assert abs(out[2].rep_top_bigram_frac - 0.2) < 1e-9
