"""KG-build benchmark of record for graph4code_spark.

One command, one workload per run, one client in a closed loop on
``local[4]`` with ``spark.sql.shuffle.partitions=8``:

    python3 perfbench/run.py --workload kg_full --seed 3 --seconds 5 --trace 0

Workloads (``README.md`` beside this file gives sizes and reasons):

- ``kg_full``: ``plans.pipeline.run_pipeline`` over synthetic pages into a
  fresh out dir per build: every checkpointed stage, the flow extractor
  and the final ``materialize_triples`` sink.
- ``forum_only``: ``extract_qa`` -> ``link_entities`` -> ``forum_triples``
  -> ``dedup_quads``, counted in memory with no write (the
  ``jobs/run_pipeline.py --bench`` shape).  Flows, analysis and the sink
  do no work here.

Both are batch builds, which pay their JVM's warm-up on every run, so
the first operation of a run is timed cold.  It takes longer than
``--seconds`` on four vCPUs, so a run times one operation.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` turns on the
Spark event log, tags every call into a layer with
``SparkContext.setJobGroup(<layer>)``, runs the usage-query mix over the
KG that ``kg_full`` wrote, and prints per-layer metrics read back from
the event log.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.

``--pin`` records this seed's outputs into ``expected.json`` instead of
checking them (use with ``--trace 1`` so the query results are pinned
too).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench")
PINS_PATH = os.path.join(HERE, "expected.json")

MASTER = "local[4]"
SHUFFLE_PARTITIONS = "8"
PAGE_PARTITIONS = 8
DRIVER_MEMORY = "2g"

#: pages per timed operation
WORKLOADS = {"kg_full": 200, "forum_only": 400}
#: 1-in-N pages whose flow nodes are re-extracted on the driver
FLOW_SAMPLE_MOD = 40
#: pages in the single-thread microbench (trace runs)
MICRO_PAGES = 200

#: run_pipeline stage name -> layer (job group) it exercises
STAGE_LAYER = {
    "01_qa": "sources.qa",
    "02_links": "operators.linking",
    "03_doc_triples": "emitters.docstrings",
    "04_forum_triples": "emitters.forum",
    "05_flow_nodes": "operators.flows",
    "06_flow_triples": "emitters.analysis",
    "07_cc_mapping": "operators.canonicalize",
    "08_sameas_triples": "operators.canonicalize",
}
#: stages whose union the final quad table deduplicates
TRIPLE_STAGES = ("03_doc_triples", "04_forum_triples", "06_flow_triples",
                 "08_sameas_triples")
#: layer -> event-log/timing fields reported for it
LAYER_FIELDS = {
    "sources.qa": ("wall_s", "task_s", "python_s", "arrow_bytes"),
    "operators.linking": ("wall_s", "task_s", "python_s", "arrow_bytes", "shuffle_bytes"),
    "operators.flows": ("wall_s", "task_s", "python_s", "arrow_bytes"),
    "emitters.analysis": ("wall_s", "task_s", "shuffle_bytes"),
    "emitters.docstrings": ("wall_s", "task_s", "shuffle_bytes"),
    "emitters.forum": ("wall_s", "task_s", "shuffle_bytes"),
    "operators.canonicalize": ("wall_s", "task_s", "shuffle_bytes"),
    "materialize": ("wall_s", "task_s", "shuffle_bytes"),
}
#: per-layer counts set by the workloads, zero where a layer does no work
LAYER_COUNTS = {
    "sources.qa.rows_out": "count",
    "operators.linking.rows_out": "count",
    "operators.linking.links_per_page": "count",
    "operators.linking.good_match_ratio": "ratio",
    "operators.flows.rows_out": "count",
    "emitters.analysis.rows_out": "count",
    "emitters.docstrings.rows_out": "count",
    "emitters.forum.rows_out": "count",
    "operators.canonicalize.rows_out": "count",
    "materialize.files_written": "count",
    "materialize.dedup_ratio": "ratio",
    "materialize.bytes_per_triple": "B",
    "process.peak_rss_mb": "MB",
}
QUERY_NAMES = ("type_inference", "similar_flows", "next_steps_after",
               "find_so_posts", "questions_about", "most_discussed_entities")
QUERY_FIELDS = ("input_bytes", "records_read", "shuffle_bytes")
UNITS = {"wall_s": "s", "task_s": "s", "python_s": "s", "arrow_bytes": "B",
         "shuffle_bytes": "B", "input_bytes": "B", "records_read": "count"}


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``, and let the workers import the package from ``ROOT``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        os.environ[var] = f"{os.environ.get(var, '')} {jvm_opts}".strip()
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    sys.path.insert(0, ROOT)


def _start_spark(work: str, trace: bool):
    from graph4code_spark.session import get_spark

    conf = {
        "spark.sql.shuffle.partitions": SHUFFLE_PARTITIONS,
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
        })
    return get_spark("perfbench", master=MASTER, extra_conf=conf)


def _shutdown(spark) -> None:
    """Stop Spark, end the driver JVM and wait for every child process."""
    from pyspark import SparkContext

    from procrss import descendants

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


# ---------------------------------------------------------------- checks


def _canon(value) -> str:
    return json.dumps(value, sort_keys=True, default=str)


def rows_digest(rows) -> str:
    """Order-independent digest of collected rows."""
    keys = sorted(_canon(r.asDict(recursive=True)) for r in rows)
    return hashlib.sha256("\n".join(keys).encode()).hexdigest()[:16]


def quad_digest(triples) -> tuple[int, str]:
    """(row count, order-independent digest) of a quad table: the sum of
    a 64-bit hash of each quad, nulls spelled out so that no two quads
    hash alike by a null moving between columns."""
    from pyspark.sql import functions as F

    from graph4code_spark.schemas import TRIPLE_COLS

    key = F.concat_ws("\x1f", *[
        F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in TRIPLE_COLS])
    row = triples.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(key).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), format(int(row["h"] or 0) % (1 << 64), "016x")


def check_build(spark, out_dir: str) -> tuple[int, str, list[str]]:
    """Invariants of one run_pipeline output dir, for any seed: no
    duplicate quads, row count = distinct union of the emitter stages,
    and the flow nodes of a 1-in-40 page subset equal the straight-line
    extractor's.  Returns (triples, digest, problems)."""
    from functools import reduce

    from pyspark.sql import functions as F

    from graph4code_spark.materialize import read_triples
    from graph4code_spark.operators.flows import build_flow_catalog, extract_page_flow_nodes
    from graph4code_spark.schemas import ANALYSIS_NODES_SCHEMA, TRIPLE_COLS
    from graph4code_spark.synth import FIXED_CATALOG

    problems = []
    final = read_triples(spark, os.path.join(out_dir, "triples"))
    n, digest = quad_digest(final)
    distinct = final.dropDuplicates().count()
    if distinct != n:
        problems.append(f"{n - distinct} duplicate quads")
    union = reduce(lambda a, b: a.unionByName(b), [
        spark.read.parquet(os.path.join(out_dir, s)).select(*TRIPLE_COLS)
        for s in TRIPLE_STAGES]).distinct().count()
    if union != n:
        problems.append(f"{n} quads but {union} distinct stage triples")

    def sample(df, col):
        return df.where(F.pmod(F.xxhash64(col), F.lit(FLOW_SAMPLE_MOD)) == 0)

    qa = sample(spark.read.parquet(os.path.join(out_dir, "01_qa")), "url")
    nodes = sample(spark.read.parquet(os.path.join(out_dir, "05_flow_nodes")),
                   "graph_uri")
    cols = [f.name for f in ANALYSIS_NODES_SCHEMA.fields]
    catalog = build_flow_catalog(FIXED_CATALOG)
    expected = []
    for row in qa.select("url", "codes").collect():
        try:
            page = extract_page_flow_nodes(row["url"], list(row["codes"] or []), catalog)
        except Exception:  # noqa: BLE001 - the stage drops such pages too
            page = []
        expected.extend(_canon({c: r.get(c) for c in cols}) for r in page)
    actual = [_canon(r.asDict(recursive=True)) for r in nodes.select(*cols).collect()]
    if not expected or sorted(expected) != sorted(actual):
        problems.append(f"flow-node sample: {len(actual)} rows in the stage, "
                        f"{len(expected)} from the straight-line extractor")
    return n, digest, problems


class Pins:
    """Outputs pinned for one recorded seed and page count (``expected.json``)."""

    def __init__(self, workload: str, seed: int, pages: int, record: bool):
        self.workload, self.record = workload, record
        self.all = {}
        if os.path.exists(PINS_PATH):
            with open(PINS_PATH) as f:
                self.all = json.load(f)
        entry = self.all.get(workload, {})
        self.active = record or (entry.get("seed"), entry.get("pages")) == (seed, pages)
        self.values = {"seed": seed, "pages": pages} if record else entry

    def check(self, key: str, value) -> list[str]:
        if not self.active:
            return []
        if self.record:
            self.values.setdefault(key, value)
            return []
        want = self.values.get(key)
        return [] if want in (None, value) else [f"{key}: {value!r} != pinned {want!r}"]

    def save(self) -> None:
        if self.record:
            self.all[self.workload] = self.values
            with open(PINS_PATH, "w") as f:
                json.dump(self.all, f, indent=2, sort_keys=True)
                f.write("\n")


# ------------------------------------------------------------- tracing


class Tracer:
    """Tags Spark jobs with the layer that submitted them and times the
    layer calls.  Disabled, it sets only the coarse groups (``setup``,
    ``check``), so an untraced run pays nothing per layer call."""

    def __init__(self, sc, enabled: bool):
        self.sc, self.enabled = sc, enabled
        self.walls: dict[str, float] = {}
        self.current = "setup"

    def group(self, name: str) -> None:
        self.current = name
        self.sc.setJobGroup(name, name)

    @contextmanager
    def layer(self, name: str):
        if not self.enabled:
            yield
            return
        outer = self.current
        self.group(name)
        t = time.perf_counter()
        try:
            yield
        finally:
            self.walls[name] = self.walls.get(name, 0.0) + time.perf_counter() - t
            self.group(outer)

    @contextmanager
    def pipeline_layers(self):
        """Attribute each run_pipeline stage to its layer.  StageRunner.run
        builds, writes and reads back one stage, so every job of a stage
        runs inside that call; the final sink is ``materialize_triples``.
        Both are wrapped while the context is open, then restored."""
        if not self.enabled:
            yield
            return
        from graph4code_spark.plans import pipeline

        run, sink = pipeline.StageRunner.run, pipeline.materialize_triples

        def traced_run(runner, name, *a, **kw):
            with self.layer(STAGE_LAYER[name]):
                return run(runner, name, *a, **kw)

        def traced_sink(*a, **kw):
            with self.layer("materialize"):
                return sink(*a, **kw)

        pipeline.StageRunner.run, pipeline.materialize_triples = traced_run, traced_sink
        try:
            yield
        finally:
            pipeline.StageRunner.run, pipeline.materialize_triples = run, sink


# ------------------------------------------------------------ operations


def make_pages(spark, n: int, seed: int):
    from graph4code_spark.synth import synth_pages

    pages = synth_pages(spark, n, seed=seed, partitions=PAGE_PARTITIONS).localCheckpoint()
    pages.count()
    return pages


def build_kg(spark, pages, out_dir: str) -> int:
    """One full KG build into a fresh ``out_dir``; returns its triples."""
    from graph4code_spark.plans.pipeline import PipelineConfig, run_pipeline

    shutil.rmtree(out_dir, ignore_errors=True)
    return run_pipeline(spark, pages, PipelineConfig(out_dir=out_dir)).count()


def build_forum(pages, tracer: Tracer):
    """QA parse -> linking -> forum triples -> dedup, counted in memory.
    Traced, each layer's output is materialized at its boundary.  Returns
    (qa, links, triples, count); the caller unpersists qa and links."""
    from graph4code_spark.emitters.forum import forum_triples
    from graph4code_spark.materialize import dedup_quads
    from graph4code_spark.operators.linking import link_entities
    from graph4code_spark.sources.qa import extract_qa
    from graph4code_spark.synth import FIXED_CATALOG

    qa = extract_qa(pages).cache()
    with tracer.layer("sources.qa"):
        if tracer.enabled:
            qa.count()
    links = link_entities(qa, FIXED_CATALOG).cache()
    with tracer.layer("operators.linking"):
        if tracer.enabled:
            links.count()
    with tracer.layer("emitters.forum"):
        triples = dedup_quads(forum_triples(links, qa, FIXED_CATALOG))
        n = triples.count()
    return qa, links, triples, n


def link_counts(links, pages: int) -> dict[str, float]:
    from pyspark.sql import functions as F

    row = links.agg(F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("good_match").cast("int")).alias("good")).first()
    return {
        "operators.linking.rows_out": row["n"],
        "operators.linking.links_per_page": row["n"] / pages,
        "operators.linking.good_match_ratio": (row["good"] or 0) / max(row["n"], 1),
    }


def parquet_size(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``path``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                size += os.path.getsize(os.path.join(d, name))
                files += 1
    return size, files


def query_mix(triples) -> dict:
    """The six usage queries, by name, as zero-argument callables."""
    from graph4code_spark.plans import queries as q
    from graph4code_spark.synth import HUB_ENTITY

    return {
        "type_inference": lambda: q.type_inference(triples),
        "similar_flows": lambda: q.similar_flows(triples),
        "next_steps_after": lambda: q.next_steps_after(triples, "read_csv"),
        "find_so_posts": lambda: q.find_so_posts(triples, [HUB_ENTITY]),
        "questions_about": lambda: q.questions_about(triples, HUB_ENTITY),
        "most_discussed_entities": lambda: q.most_discussed_entities(triples),
    }


# ------------------------------------------------------------------ run


class Run:
    """One benchmark run: set-up, the timed closed loop, checks, metrics."""

    def __init__(self, args, spark, work: str, t0: float):
        self.args, self.spark, self.work, self.t0 = args, spark, work, t0
        self.n_pages = WORKLOADS[args.workload]
        self.tracer = Tracer(spark.sparkContext, bool(args.trace))
        self.pins = Pins(args.workload, args.seed, self.n_pages, args.pin)
        self.attempted = self.failed = 0
        self.check_s = 0.0
        self.op_walls: list[float] = []
        self.op_cpus: list[float] = []
        self.steal_s = 0.0
        self.n_triples = 0
        self.counts: dict[str, float] = {}
        self.query_walls: dict[str, float] = {}

    def verdict(self, problems: list[str], what: str) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            _log(f"{what} failed: {'; '.join(problems)}")

    @contextmanager
    def checking(self):
        """Untimed output checks; their time is kept out of ``setup_s``."""
        outer = self.tracer.current
        self.tracer.group("check")
        t = time.perf_counter()
        try:
            yield
        finally:
            self.check_s += time.perf_counter() - t
            self.tracer.group(outer)

    def setup(self):
        """Pages for the timed loop.  The job that makes them also starts
        the Python workers."""
        self.tracer.group("setup")
        pages = make_pages(self.spark, self.n_pages, self.args.seed)
        self.setup_s = time.perf_counter() - self.t0 - self.check_s
        _log(f"set-up {self.setup_s:.2f}s")
        return pages

    def loop(self, op) -> None:
        """Closed loop, one client: run ``op`` until ``--seconds`` have
        passed, at least once.  Traced, the process tree's RSS is sampled
        meanwhile."""
        from procrss import PeakRss

        self.tracer.group(self.args.workload)
        with PeakRss() if self.tracer.enabled else nullcontext() as rss:
            start = time.perf_counter()
            while not self.op_walls or time.perf_counter() - start < self.args.seconds:
                op()
                if not self.op_walls and self.attempted >= 3:
                    break
        if rss is not None:
            self.counts["process.peak_rss_mb"] = rss.peak_bytes / 2**20
        if not self.op_walls:
            raise RuntimeError("no operation completed")

    def timed(self, fn):
        """Run one operation; keep its wall time, the CPU time of the
        process tree and the host's steal time over it."""
        from procrss import steal_s, tree_cpu_s

        cpu, steal, t = tree_cpu_s(os.getpid()), steal_s(), time.perf_counter()
        try:
            out = fn()
        except Exception as exc:  # noqa: BLE001 - a raising op counts as failed
            self.verdict([repr(exc)], self.args.workload)
            return None
        self.op_walls.append(time.perf_counter() - t)
        self.op_cpus.append(tree_cpu_s(os.getpid()) - cpu)
        stolen = steal_s() - steal
        self.steal_s += stolen
        _log(f"{self.args.workload} op {self.op_walls[-1]:.2f}s wall, "
             f"{self.op_cpus[-1]:.2f}s cpu, {stolen:.2f}s stolen")
        return out

    # -------------------------------------------------------- kg_full

    def kg_full(self) -> None:
        spark, tracer = self.spark, self.tracer
        pages = self.pages = self.setup()
        out = os.path.join(self.work, "kg")

        def build():
            with tracer.pipeline_layers():
                return build_kg(spark, pages, out)

        def op() -> None:
            n = self.timed(build)
            if n is None:
                return
            with self.checking():
                n_checked, digest, problems = check_build(spark, out)
                if n_checked != n:
                    problems.append(f"count {n} != {n_checked} on re-read")
                problems += self.pins.check("triples", n) + self.pins.check("digest", digest)
                self.n_triples = n
                if tracer.enabled:
                    self.kg_counts(out)
            self.verdict(problems, "build")

        self.loop(op)
        if tracer.enabled:
            self.trace_queries(os.path.join(out, "triples"))

    def kg_counts(self, out: str) -> None:
        with open(os.path.join(out, "manifest.json")) as f:
            rows = {k: v["rows"] for k, v in json.load(f).items()}
        size, files = parquet_size(os.path.join(out, "triples"))
        self.counts.update(link_counts(
            self.spark.read.parquet(os.path.join(out, "02_links")), self.n_pages))
        self.counts.update({
            "sources.qa.rows_out": rows["01_qa"],
            "emitters.docstrings.rows_out": rows["03_doc_triples"],
            "emitters.forum.rows_out": rows["04_forum_triples"],
            "operators.flows.rows_out": rows["05_flow_nodes"],
            "emitters.analysis.rows_out": rows["06_flow_triples"],
            "operators.canonicalize.rows_out": rows["08_sameas_triples"],
            "materialize.files_written": files,
            "materialize.dedup_ratio": rows["triples"] / max(
                sum(rows[s] for s in TRIPLE_STAGES), 1),
            "materialize.bytes_per_triple": size / max(rows["triples"], 1),
        })

    def trace_queries(self, store: str) -> None:
        """One pass of the usage-query mix over the KG the last traced
        build wrote, each query tagged with its own layer."""
        from graph4code_spark.materialize import read_triples

        for name, fn in query_mix(read_triples(self.spark, store)).items():
            t = time.perf_counter()
            try:
                with self.tracer.layer(f"plans.queries.{name}"):
                    rows = fn().collect()
            except Exception as exc:  # noqa: BLE001 - counted as a failed op
                self.verdict([f"{name}: {exc!r}"], "query")
                continue
            self.query_walls[name] = time.perf_counter() - t
            with self.checking():
                problems = self.pins.check(f"{name}.rows", len(rows))
                problems += self.pins.check(f"{name}.digest", rows_digest(rows))
            self.verdict(problems, "query")

    # ----------------------------------------------------- forum_only

    def forum_only(self) -> None:
        tracer = self.tracer
        pages = self.pages = self.setup()
        first: list = []

        def op() -> None:
            built = self.timed(lambda: build_forum(pages, tracer))
            if built is None:
                return
            qa, links, triples, n = built
            with self.checking():
                n_checked, digest = quad_digest(triples)
                problems = [] if n_checked == n else [f"count {n} != {n_checked}"]
                if not first:
                    first.append((n, digest))
                elif first[0] != (n, digest):
                    problems.append(f"{(n, digest)} differs from the first pass {first[0]}")
                problems += self.pins.check("triples", n) + self.pins.check("digest", digest)
                self.n_triples = n
                if tracer.enabled:
                    self.counts.update(link_counts(links, self.n_pages))
                    self.counts["sources.qa.rows_out"] = qa.count()
                    self.counts["emitters.forum.rows_out"] = n
            qa.unpersist()
            links.unpersist()
            self.verdict(problems, "forum build")

        self.loop(op)

    # -------------------------------------------------------- metrics

    def end_to_end(self) -> dict:
        build_cpu_s = statistics.median(self.op_cpus)
        return {
            "setup_s": (self.setup_s, "s"),
            "build_cpu_s": (build_cpu_s, "s"),
            "triples_per_cpu_s": (self.n_triples / build_cpu_s, "1/s"),
        }

    def micro(self) -> dict[str, float]:
        from micro import run_micro

        self.tracer.group("micro")
        sample = self.pages.select("url", "html").limit(MICRO_PAGES).collect()
        return run_micro([(r["url"], bytes(r["html"]).decode("utf-8")) for r in sample])

    def per_layer(self, groups: dict, micro: dict) -> dict:
        """Per-op averages of each layer's event-log totals and walls."""
        ops = len(self.op_walls)
        out = {}
        for layer, fields in LAYER_FIELDS.items():
            g = groups.get(layer, {})
            for field in fields:
                total = self.tracer.walls.get(layer, 0.0) if field == "wall_s" else g.get(field, 0.0)
                out[f"{layer}.{field}"] = (total / ops, UNITS[field])
        for name, unit in LAYER_COUNTS.items():
            out[name] = (self.counts.get(name, 0), unit)
        for q in QUERY_NAMES:
            g = groups.get(f"plans.queries.{q}", {})
            out[f"plans.queries.{q}.s"] = (self.query_walls.get(q, 0.0), "s")
            for field in QUERY_FIELDS:
                out[f"plans.queries.{q}.{field}"] = (g.get(field, 0.0), UNITS[field])
        for name, value in micro.items():
            out[name] = (value, "1/s" if name.endswith("pages_per_s") else "count")
        out["session.python_worker_start_s"] = (
            groups.get("setup", {}).get("python_start_s", 0.0), "s")
        out["machine.build_cpu_s"] = (statistics.median(self.op_cpus), "s")
        out["machine.build_wall_s"] = (statistics.median(self.op_walls), "s")
        out["machine.steal_s"] = (self.steal_s / ops, "s")
        return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="record this seed's outputs in expected.json")
    args = ap.parse_args(argv)

    t0 = time.perf_counter()
    # a SIGTERM unwinds like an error, so the cleanup below still runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    _isolate(work)
    try:
        import graph4code_spark  # noqa: F401 - fail before Spark starts outside a checkout

        spark = _start_spark(work, bool(args.trace))
        try:
            run = Run(args, spark, work, t0)
            getattr(run, args.workload)()
            micro = run.micro() if args.trace else {}
            run.pins.save()
        finally:
            _shutdown(spark)
        if args.trace:
            from eventlog import task_metrics_by_group

            metrics = run.per_layer(task_metrics_by_group(os.path.join(work, "events")), micro)
        else:
            metrics = run.end_to_end()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(WORK_ROOT) and not os.listdir(WORK_ROOT):
            os.rmdir(WORK_ROOT)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
