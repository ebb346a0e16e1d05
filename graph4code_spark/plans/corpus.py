"""Checkpointed corpus-hygiene pipeline: the training-data analogue of
`plans/pipeline.py`'s KG spine, with the same resume contract.

    docs ──► 01_redacted ──► 02_decontaminated ──► 03_cleaned ──► 04_packed

Every stage writes parquet + a manifest fingerprint via StageRunner, so
a job killed after stage k resumes by READING stages 1..k back instead
of recomputing them (north rule: per-stage lineage + resumability).
The parquet boundaries are also where a 100 TB run wants its barriers:
the redacted table is the reusable corpus-of-record, the cleaned table
is what the tokenizer consumes, the packed table is the training
manifest.

The stages after redaction are module functions of (input, config):
`run_corpus_pipeline` wraps each in `StageRunner.run`, and the
registered `corpus_pipeline` query calls the same functions in memory,
so the stage literals live only in `CorpusConfig`'s defaults.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graph4code_spark.operators.packing import pack_sequences
from graph4code_spark.operators.scrub import (
    contaminated_doc_ids,
    drop_frequent_lines,
    pii_features,
    word_lines,
)
from graph4code_spark.operators.textstats import whitespace_token_count
from graph4code_spark.plans.pipeline import StageRunner


@dataclass
class CorpusConfig:
    out_dir: str
    bench_mod: int = 50          # doc_id % bench_mod == 0 is the eval slice
    gram_k: int = 4              # decontamination n-gram size
    line_words: int = 3          # words per CCNet "line" chunk
    min_docs: int = 3            # frequent-line threshold
    min_tokens: int = 10         # quality gate
    seq_len: int = 64            # packing sequence length

    def fingerprint(self) -> str:
        basis = json.dumps(
            {k: v for k, v in self.__dict__.items() if k != "out_dir"},
            sort_keys=True,
        )
        return hashlib.md5(basis.encode()).hexdigest()[:12]


def decontaminate(red: DataFrame, cfg: CorpusConfig) -> DataFrame:
    """(doc_id, rt) minus the benchmark slice (``doc_id % bench_mod ==
    0``) and every corpus doc sharing a word ``gram_k``-gram with it."""
    bench = red.where(F.col("doc_id") % cfg.bench_mod == 0)
    corpus = red.where(F.col("doc_id") % cfg.bench_mod != 0)
    hit = contaminated_doc_ids(corpus, bench, "doc_id", "rt", k=cfg.gram_k)
    return corpus.join(hit.select("doc_id"), "doc_id", "left_anti")


def clean(surv: DataFrame, cfg: CorpusConfig) -> DataFrame:
    """(doc_id, ct): ``rt`` chunked into ``line_words``-word lines, the
    lines found in ``min_docs`` or more docs dropped."""
    chunked = surv.select("doc_id", word_lines(F.col("rt"), cfg.line_words).alias("lines"))
    return drop_frequent_lines(
        chunked, "doc_id", "lines", min_docs=cfg.min_docs
    ).select("doc_id", F.array_join("lines_kept", " ").alias("ct"))


def pack(cleaned: DataFrame, cfg: CorpusConfig) -> DataFrame:
    """Docs of at least ``min_tokens`` words of ``ct``, packed into
    ``seq_len``-token sequences (`pack_sequences`)."""
    counted = cleaned.select(
        "doc_id", whitespace_token_count(F.col("ct")).alias("nw")
    ).where(F.col("nw") >= cfg.min_tokens)
    return pack_sequences(counted, "doc_id", "nw", seq_len=cfg.seq_len)


def run_corpus_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    config: CorpusConfig,
    stats: dict | None = None,
) -> DataFrame:
    """(doc_id, text) → packed training manifest
    (doc_id, n_tokens, sort_key, global_offset, seq_id, straddles)."""
    cfg = config
    runner = StageRunner(spark, cfg.out_dir, cfg.fingerprint())
    if stats is not None:
        stats["executed"] = runner.executed

    red = runner.run(
        "01_redacted",
        lambda: pii_features(docs.select("doc_id", "text"), "text").select(
            "doc_id", F.col("text_redacted").alias("rt")
        ),
    )
    surv = runner.run(
        "02_decontaminated", lambda: decontaminate(red, cfg), deps=["01_redacted"]
    )
    cleaned = runner.run("03_cleaned", lambda: clean(surv, cfg), deps=["02_decontaminated"])
    return runner.run("04_packed", lambda: pack(cleaned, cfg), deps=["03_cleaned"])
