"""Structured-Streaming ingestion: AvailableNow drain + incremental
resume via checkpointed offsets."""

import os

from graph4code_spark.streaming.ingest import (
    dedup_pages_stream,
    pages_per_window,
    read_page_stream,
    run_available_now,
    running_page_totals,
)
from graph4code_spark.synth import synth_pages


def test_available_now_ingestion_and_resume(spark, tmp_path):
    in_dir = str(tmp_path / "pages_in")
    out_dir = str(tmp_path / "pages_out")
    ckpt = str(tmp_path / "ckpt")

    synth_pages(spark, 40, seed=1).write.parquet(in_dir)
    q = run_available_now(read_page_stream(spark, in_dir), out_dir, ckpt)
    q.awaitTermination(120)
    first = spark.read.parquet(out_dir)
    n1 = first.count()
    assert n1 == 40
    assert set(first.columns) == {"url", "text", "codes", "ok"}
    assert first.where("not ok").count() == 0

    # drop a second batch of files; a new AvailableNow run drains ONLY them
    synth_pages(spark, 25, seed=2).write.mode("append").parquet(in_dir)
    q2 = run_available_now(read_page_stream(spark, in_dir), out_dir, ckpt)
    q2.awaitTermination(120)
    total = spark.read.parquet(out_dir).count()
    assert total == 40 + 25

    # offsets were checkpointed
    assert os.path.exists(os.path.join(ckpt, "offsets"))


def test_watermark_windowed_counts(spark, tmp_path):
    # synth warc_ts advance 1 s/page, so windows/watermark are in seconds;
    # 16 files → 2 micro-batches so the watermark actually advances and
    # closes the early windows (append mode emits nothing otherwise)
    in_dir = str(tmp_path / "pages_w")
    synth_pages(spark, 40, seed=3).repartition(16).write.parquet(in_dir)
    stream = read_page_stream(spark, in_dir)
    q = (
        pages_per_window(stream, window="10 seconds", watermark="5 seconds")
        .writeStream.format("memory").queryName("win_counts")
        .outputMode("append")            # append mode requires the watermark
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    batch = spark.read.parquet(in_dir)
    rows = spark.sql("select * from win_counts").collect()
    got = {(r["window"]["start"], r["lang"]): r["n_pages"] for r in rows}
    assert got, "no windows closed — watermark never advanced (vacuous test)"
    for (start, lang), n in got.items():
        want = batch.where(
            (batch.warc_ts >= start) & (batch.lang == lang)
        ).where(f"warc_ts < timestamp'{start}' + interval 10 seconds").count()
        assert n == want


def test_streaming_dedup_within_watermark(spark, tmp_path):
    in_dir = str(tmp_path / "pages_d")
    ckpt = str(tmp_path / "ckpt_d")
    # write the same 30 pages twice (re-crawl) — one file set, duplicates
    # inside the watermark horizon must collapse to one row per url
    p = synth_pages(spark, 30, seed=5)
    p.write.parquet(in_dir)
    p.write.mode("append").parquet(in_dir)
    stream = read_page_stream(spark, in_dir)
    q = (
        dedup_pages_stream(stream, watermark="1 hour")
        .select("url")
        .writeStream.format("memory").queryName("dedup_pages")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = [r.url for r in spark.sql("select url from dedup_pages").collect()]
    assert len(rows) == 30
    assert len(set(rows)) == 30


def test_stateful_running_totals(spark, tmp_path):
    in_dir = str(tmp_path / "pages_s")
    ckpt = str(tmp_path / "ckpt_s")
    # 16 files → 2 micro-batches under maxFilesPerTrigger=8, so the state
    # actually accumulates across batches
    synth_pages(spark, 40, seed=4).repartition(16).write.parquet(in_dir)
    stream = read_page_stream(spark, in_dir)
    q = (
        running_page_totals(stream)
        .writeStream.format("memory").queryName("totals")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from totals").collect()
    # the last emission per lang carries the cumulative total == batch count
    last = {}
    for r in rows:
        last[r["lang"]] = max(last.get(r["lang"], 0), r["total_pages"])
    want = {
        r["lang"]: r["n"]
        for r in spark.read.parquet(in_dir).groupBy("lang").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert last == want
    # batch_pages sums to the totals too (state accumulated, not recomputed)
    import collections
    sums = collections.Counter()
    for r in rows:
        sums[r["lang"]] += r["batch_pages"]
    assert dict(sums) == want


def test_streaming_kg_pipeline_matches_batch(spark, tmp_path):
    """The full E6/E7 analysis-triple pipeline runs as a stream: two
    incremental AvailableNow drains over a landing directory produce
    exactly the batch pipeline's quads for the union of the waves."""
    from graph4code_spark.emitters.analysis import analysis_triples
    from graph4code_spark.operators.flows import extract_flow_nodes
    from graph4code_spark.sources.qa import extract_qa
    from graph4code_spark.streaming.ingest import stream_flow_triples
    from graph4code_spark.synth import FIXED_CATALOG

    in_dir = str(tmp_path / "kg_in")
    out_dir = str(tmp_path / "kg_out")
    ckpt = str(tmp_path / "kg_ckpt")

    synth_pages(spark, 30, seed=1).write.parquet(in_dir)

    def drain():
        q = (
            stream_flow_triples(read_page_stream(spark, in_dir), FIXED_CATALOG)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    n_wave1 = spark.read.parquet(out_dir).count()
    assert n_wave1 > 0

    # second wave: only the new files are processed (incremental)
    synth_pages(spark, 20, seed=2).write.mode("append").parquet(in_dir)
    drain()

    streamed = spark.read.parquet(out_dir)
    batch = analysis_triples(
        extract_flow_nodes(
            extract_qa(
                synth_pages(spark, 30, seed=1).unionByName(
                    synth_pages(spark, 20, seed=2)
                )
            ),
            FIXED_CATALOG,
        )
    )
    cols = ["subj", "pred", "obj", "is_literal", "arg_pos", "arg_name", "graph"]

    def canon(df):
        return sorted(
            (tuple("" if v is None else str(v) for v in r) for r in df.select(*cols).collect())
        )

    assert canon(streamed) == canon(batch)


def test_stateless_hygiene_ops_compose_with_streams(spark, tmp_path):
    """The corpus-hygiene maps (PII redaction, quality features) are
    stateless column expressions, so they apply to a streaming
    DataFrame unchanged — batch output == stream output on the same
    files."""
    from pyspark.sql import functions as F

    from graph4code_spark.operators.scrub import pii_features
    from graph4code_spark.operators.textstats import quality_columns

    in_dir = str(tmp_path / "pages_h")
    synth_pages(spark, 30, seed=5).write.parquet(in_dir)

    def hygiene(df):
        return pii_features(
            df.select("url", "text", *quality_columns(F.col("text"))), "text"
        ).select("url", "q_words", "q_punct_ratio", "pii_email", "text_redacted")

    q = (
        hygiene(read_page_stream(spark, in_dir))
        .writeStream.format("memory").queryName("hygiene_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        r["url"]: (r["q_words"], r["q_punct_ratio"], r["pii_email"], r["text_redacted"])
        for r in spark.sql("select * from hygiene_stream").collect()
    }
    want = {
        r["url"]: (r["q_words"], r["q_punct_ratio"], r["pii_email"], r["text_redacted"])
        for r in hygiene(spark.read.parquet(in_dir)).collect()
    }
    assert got == want and len(got) == 30
