"""End-to-end KG-construction pipeline with checkpoint/resume.

Stage graph (north_star spine):

    pages ──► qa ──► links ──► forum_triples ─┐
      │                └─► flow_nodes ─► flow_triples ─┤
      catalog ─► doc_triples ──────────────────────────┼─► triples (final)
      class_map ─► cc_mapping ─► sameas_triples ───────┘

Resumability (north rule): every stage writes parquet under
``<out_dir>/<stage>/`` and records a fingerprint + row count + wall time
in ``<out_dir>/manifest.json``.  On rerun, a stage whose output exists
with a matching fingerprint is **read back, not recomputed** — killing
the job after stage k and rerunning produces the identical final table
while skipping stages 1..k (verified by ``tests/test_pipeline_resume``).
The reference's analogue is its pickle checkpointing
(`/root/reference/src/utils.py:104-189`) and idempotent per-stage reruns.

A stage boundary adds no Spark job beyond the stage's own write: the
manifest row count is an ``Observation`` taken during the write, and the
stage is read back with the schema just written, so neither a count nor
a footer-inference job follows it.  Each manifest entry also records
that schema, so a resumed stage is read with it too; an entry without a
schema is not resumable.  The final sink's subject-bucket count follows
the data size: ``subject_buckets`` of the summed triple-stage rows, read
from the manifest at no job cost.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from graph4code_spark.emitters.analysis import analysis_triples
from graph4code_spark.emitters.docstrings import build_class_alias_map, docstring_triples
from graph4code_spark.emitters.forum import forum_triples
from graph4code_spark.materialize import materialize_triples
from graph4code_spark.operators.canonicalize import (
    canonical_mapping,
    same_as_triples,
)
from graph4code_spark.operators.flows import extract_flow_nodes
from graph4code_spark.operators.linking import link_entities
from graph4code_spark.schemas import TRIPLE_COLS
from graph4code_spark.sources.qa import extract_qa
from graph4code_spark.synth import FIXED_CATALOG, FIXED_CLASS_MAP, catalog_df, class_map_df

#: quads per subject bucket of the final sink.  At the ~7 B/quad (zstd)
#: measured on the synthetic KG, one bucket's files total ~120 MB, about
#: one ``spark.sql.files.maxPartitionBytes`` (128m) read split; a bucket
#: is further split across the ``pred_name`` directories, so single files
#: are smaller still.  Below this size a second bucket only multiplies
#: small files.
ROWS_PER_BUCKET = 1 << 24

#: the stages unioned into the final sink
TRIPLE_STAGES = ("03_doc_triples", "04_forum_triples", "06_flow_triples",
                 "08_sameas_triples")


def subject_buckets(rows: int) -> int:
    """Smallest power of two ≥ ``rows / ROWS_PER_BUCKET`` (at least 1)."""
    need = -(-rows // ROWS_PER_BUCKET)
    return 1 << max(need - 1, 0).bit_length()


@dataclass
class PipelineConfig:
    out_dir: str
    catalog_records: list = field(default_factory=lambda: FIXED_CATALOG)
    class_map_pairs: list = field(default_factory=lambda: FIXED_CLASS_MAP)

    def fingerprint(self) -> str:
        basis = json.dumps(
            {
                "n_catalog": len(self.catalog_records),
                "n_aliases": len(self.class_map_pairs),
            },
            sort_keys=True,
        )
        return hashlib.md5(basis.encode()).hexdigest()[:12]


class StageRunner:
    """Write-once-per-fingerprint stage executor."""

    def __init__(self, spark: SparkSession, out_dir: str, fingerprint: str):
        self.spark = spark
        self.out_dir = out_dir
        self.fingerprint = fingerprint
        self.manifest_path = os.path.join(out_dir, "manifest.json")
        os.makedirs(out_dir, exist_ok=True)
        self.manifest: dict = {}
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                self.manifest = json.load(f)
        self.executed: list[str] = []

    def _save(self) -> None:
        with open(self.manifest_path, "w") as f:
            json.dump(self.manifest, f, indent=2, sort_keys=True)

    def resumed(self, name: str, deps=()) -> DataFrame | None:
        """The checkpointed output of ``name``, read with its recorded
        schema, or None when it must be recomputed: no entry or schema,
        another fingerprint, no ``_SUCCESS``, or a dep recomputed this
        run (a resumed downstream must never read a stale view of a
        refreshed upstream)."""
        path = os.path.join(self.out_dir, name)
        entry = self.manifest.get(name)
        if (
            entry
            and "schema" in entry
            and entry.get("fingerprint") == self.fingerprint
            and os.path.exists(os.path.join(path, "_SUCCESS"))
            and not any(d in self.executed for d in deps)
        ):
            return self.spark.read.schema(StructType.fromJson(entry["schema"])).parquet(path)
        return None

    def record(self, name: str, schema: StructType, rows: int, t0: float, **extra) -> None:
        """Manifest entry for a freshly written ``name``."""
        self.manifest[name] = {
            "fingerprint": self.fingerprint,
            "rows": rows,
            "schema": schema.jsonValue(),
            "wall_sec": round(time.time() - t0, 3),
            "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            **extra,
        }
        self._save()
        self.executed.append(name)

    def run(self, name: str, build, deps: list[str] | None = None,
            observation: Observation | None = None) -> DataFrame:
        """``deps``: upstream stage names — if any of them was RECOMPUTED
        this run, this stage's checkpoint is invalid even when its own
        fingerprint matches.  ``observation``: one that ``build`` attaches
        to the stage; its metrics join the manifest entry when the stage
        is written (a resumed stage keeps its entry as it was)."""
        done = self.resumed(name, deps or ())
        if done is not None:
            return done
        path = os.path.join(self.out_dir, name)
        t0 = time.time()
        df = build()
        obs = Observation()
        (
            df.observe(obs, F.count(F.lit(1)).alias("rows"))
            .write.mode("overwrite")
            .option("compression", "zstd")
            .parquet(path)
        )
        extra = observation.get if observation is not None else {}
        self.record(name, df.schema, int(obs.get["rows"]), t0, **extra)
        return self.spark.read.schema(df.schema).parquet(path)


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    config: PipelineConfig,
    stats: dict | None = None,
) -> DataFrame:
    """Pages → final quad table. Returns the materialized triples.

    ``stats``, when given, is filled with {"executed": [stage, ...]} —
    the stages actually recomputed this run (empty on a full resume), so
    callers can assert resume semantics directly instead of inferring
    them from wall-clock."""
    cfg = config
    runner = StageRunner(spark, cfg.out_dir, cfg.fingerprint())
    if stats is not None:
        stats["executed"] = runner.executed
    records = cfg.catalog_records

    qa = runner.run("01_qa", lambda: extract_qa(pages))
    links = runner.run("02_links", lambda: link_entities(qa, records),
                       deps=["01_qa"])
    doc_t = runner.run(
        "03_doc_triples",
        lambda: docstring_triples(
            catalog_df(spark, records), build_class_alias_map(cfg.class_map_pairs)
        ),
    )
    forum_t = runner.run(
        "04_forum_triples",
        lambda: forum_triples(links, qa, records),
        deps=["01_qa", "02_links"],
    )
    # fault-barrier lineage: the pages the extractor dropped
    # (``pages_failed``) and the rows it produced before the filter
    # (``rows_seen``) land in the stage's manifest entry; one bad page
    # must never fail the stage
    flow_obs = Observation("flow_extract_05")
    flow_nodes = runner.run(
        "05_flow_nodes",
        lambda: extract_flow_nodes(qa, records, error_observation=flow_obs),
        deps=["01_qa"], observation=flow_obs)
    flow_t = runner.run("06_flow_triples", lambda: analysis_triples(flow_nodes),
                        deps=["05_flow_nodes"])
    mapping = runner.run(
        "07_cc_mapping",
        lambda: canonical_mapping(class_map_df(spark, cfg.class_map_pairs)),
    )
    sameas_t = runner.run("08_sameas_triples", lambda: same_as_triples(mapping),
                          deps=["07_cc_mapping"])

    done = runner.resumed("triples", TRIPLE_STAGES)
    if done is not None:
        return done.select(*TRIPLE_COLS)

    t0 = time.time()
    all_t = (
        doc_t.select(*TRIPLE_COLS)
        .unionByName(forum_t.select(*TRIPLE_COLS))
        .unionByName(flow_t.select(*TRIPLE_COLS))
        .unionByName(sameas_t.select(*TRIPLE_COLS))
    )
    buckets = subject_buckets(sum(runner.manifest[s]["rows"] for s in TRIPLE_STAGES))
    final_path = os.path.join(cfg.out_dir, "triples")
    metrics = materialize_triples(all_t, final_path, buckets=buckets)
    runner.record("triples", all_t.schema, metrics["n_triples"], t0, metrics=metrics)
    return spark.read.schema(all_t.schema).parquet(final_path).select(*TRIPLE_COLS)
