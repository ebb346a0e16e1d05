"""Pipeline end-to-end + checkpoint/resume invariants."""

import json
import os

from graph4code_spark.plans.pipeline import (
    ROWS_PER_BUCKET,
    PipelineConfig,
    StageRunner,
    run_pipeline,
    subject_buckets,
)
from graph4code_spark.synth import synth_pages

#: Spark jobs a cold 40-page build may submit: it measures 23 on
#: local[4], the stage and sink writes with their own shuffles.  A count
#: or schema-inference job after each of the eight stage writes would
#: push it past the bound.
MAX_BUILD_JOBS = 35

#: Spark jobs a full resume of that build (no stage executed) may
#: submit: it measures 1, because every stage and the final table are
#: read with the schema in their manifest entry.  Inferring the schema
#: from the parquet footers costs a job per checkpoint (10 in all).
MAX_RESUME_JOBS = 2


def _quadset(df):
    return {
        (r.subj, r.pred, r.obj, r.is_literal, r.arg_pos, r.arg_name, r.graph)
        for r in df.collect()
    }


def test_pipeline_runs_and_resumes(spark, tmp_path):
    out = str(tmp_path / "kg")
    pages = synth_pages(spark, 60, seed=11)
    cfg = PipelineConfig(out_dir=out)

    t1 = run_pipeline(spark, pages, cfg)
    s1 = _quadset(t1)
    assert len(s1) > 500

    manifest = json.load(open(os.path.join(out, "manifest.json")))
    assert set(manifest) >= {"01_qa", "02_links", "04_forum_triples", "triples"}
    assert all(v["rows"] >= 0 for v in manifest.values())

    # simulate kill after stage 2: delete downstream outputs + manifest rows
    for stage in ["04_forum_triples", "06_flow_triples", "triples"]:
        os.system(f"rm -rf {out}/{stage}")
        manifest.pop(stage, None)
    json.dump(manifest, open(os.path.join(out, "manifest.json"), "w"))

    runner = StageRunner(spark, out, cfg.fingerprint())
    t2 = run_pipeline(spark, pages, cfg)
    assert _quadset(t2) == s1
    # upstream stages were reused, not recomputed
    manifest2 = json.load(open(os.path.join(out, "manifest.json")))
    assert manifest2["01_qa"]["completed_at"] == manifest["01_qa"]["completed_at"]
    # the flow stage's observed extractor metrics: clean input drops no
    # page; a resumed stage keeps its entry as written
    flow = manifest["05_flow_nodes"]
    assert flow["pages_failed"] == 0 and flow["rows_seen"] == flow["rows"] > 0
    assert manifest2["05_flow_nodes"] == flow
    assert runner is not None


def test_materialize_layout_and_metrics(spark, tmp_path):
    out = str(tmp_path / "kg2")
    pages = synth_pages(spark, 40, seed=12)
    run_pipeline(spark, pages, PipelineConfig(out_dir=out))

    metrics = json.load(open(os.path.join(out, "triples", "_metrics.json")))
    assert metrics["n_triples"] > 0
    assert metrics["n_graphs"] >= 2  # docstrings + forum (+ per-page flow graphs)

    # partitioned layout: pred_name=<x>/subj_bucket=<n>
    top = os.listdir(os.path.join(out, "triples"))
    assert any(d.startswith("pred_name=") for d in top)
    lineage = spark.read.parquet(os.path.join(out, "triples_lineage"))
    assert lineage.count() == metrics["n_partitions"]
    assert lineage.agg({"rows": "sum"}).first()[0] == metrics["n_triples"]

    # observed stage row counts agree with what is on disk
    manifest = json.load(open(os.path.join(out, "manifest.json")))
    for stage, entry in manifest.items():
        assert spark.read.parquet(os.path.join(out, stage)).count() == entry["rows"], stage

    # a 40-page build is far below ROWS_PER_BUCKET: one subject bucket
    assert metrics["buckets"] == 1
    for d in top:
        if d.startswith("pred_name="):
            assert os.listdir(os.path.join(out, "triples", d)) == ["subj_bucket=0"], d

    # no duplicate quads in the final table
    t = spark.read.parquet(os.path.join(out, "triples"))
    assert t.count() == t.dropDuplicates(
        ["subj", "pred", "obj", "is_literal", "arg_pos", "arg_name", "graph"]
    ).count()


def test_subject_buckets_follow_data_size():
    assert subject_buckets(0) == 1
    assert subject_buckets(1) == 1
    assert subject_buckets(ROWS_PER_BUCKET) == 1
    assert subject_buckets(ROWS_PER_BUCKET + 1) == 2
    b = subject_buckets(10**12)
    assert b & (b - 1) == 0  # a power of two
    assert b * ROWS_PER_BUCKET >= 10**12 > (b // 2) * ROWS_PER_BUCKET


def _build_jobs(spark, pages, cfg, group, stats=None) -> int:
    """Spark jobs one ``run_pipeline`` call submits."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run_pipeline(spark, pages, cfg, stats=stats)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_cold_build_job_count(spark, tmp_path):
    """A stage boundary adds no job beyond its write: no count or
    schema-inference job after a stage write, no stats rescan after the
    sink."""
    pages = synth_pages(spark, 40, seed=12).localCheckpoint()
    pages.count()
    cfg = PipelineConfig(out_dir=str(tmp_path / "kg"))
    n_jobs = _build_jobs(spark, pages, cfg, "test_cold_build_job_count")
    assert 0 < n_jobs <= MAX_BUILD_JOBS, n_jobs


def test_full_resume_job_count(spark, tmp_path):
    """A resumed stage is read with the schema its manifest entry
    records: a full resume infers no schema, and an entry without a
    schema is recomputed rather than read another way."""
    pages = synth_pages(spark, 40, seed=12).localCheckpoint()
    pages.count()
    cfg = PipelineConfig(out_dir=str(tmp_path / "kg"))
    first = _quadset(run_pipeline(spark, pages, cfg))
    manifest = json.load(open(os.path.join(cfg.out_dir, "manifest.json")))
    assert all("schema" in e for e in manifest.values())

    stats: dict = {}
    n_jobs = _build_jobs(spark, pages, cfg, "test_full_resume_job_count", stats)
    assert stats["executed"] == []
    assert n_jobs <= MAX_RESUME_JOBS, n_jobs
    assert _quadset(run_pipeline(spark, pages, cfg)) == first

    # an entry without a schema is not resumable
    del manifest["08_sameas_triples"]["schema"]
    json.dump(manifest, open(os.path.join(cfg.out_dir, "manifest.json"), "w"))
    stats = {}
    assert _quadset(run_pipeline(spark, pages, cfg, stats=stats)) == first
    assert stats["executed"] == ["08_sameas_triples", "triples"]


def test_corpus_pipeline_resume(spark, tmp_path):
    """Corpus-hygiene spine has the same resume contract as the KG
    spine: identical final table on rerun with ZERO recomputed stages,
    and a deleted mid-stage recomputes only itself and its downstream."""
    import shutil

    from graph4code_spark.plans.corpus import CorpusConfig, run_corpus_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cfg = CorpusConfig(out_dir=str(tmp_path / "corpus_out"))

    s1: dict = {}
    first = run_corpus_pipeline(spark, docs, cfg, stats=s1)
    rows1 = sorted(tuple(r) for r in first.collect())
    assert s1["executed"] == [
        "01_redacted", "02_decontaminated", "03_cleaned", "04_packed",
    ]
    assert rows1

    s2: dict = {}
    second = run_corpus_pipeline(spark, docs, cfg, stats=s2)
    assert s2["executed"] == []                       # full resume
    assert sorted(tuple(r) for r in second.collect()) == rows1

    shutil.rmtree(str(tmp_path / "corpus_out" / "03_cleaned"))
    s3: dict = {}
    third = run_corpus_pipeline(spark, docs, cfg, stats=s3)
    assert s3["executed"] == ["03_cleaned", "04_packed"]
    assert sorted(tuple(r) for r in third.collect()) == rows1
