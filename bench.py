"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS], plus the north-rule N→4N scaling measurement
of the KG pipeline.

Prints ONE JSON line (and writes it up as BENCH.md):
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ...,
   "scaling": {"protocol": "spark-submit", "low": {...}, "high": {...},
               "levels": {...}, "max_cores": {...}, "efficiency": ...,
               "controls_gate": {...}, "controls": {...},
               "efficiency_adjusted": ...},
   "headline_controls_gate": {...}}

Scaling: the north rule's criterion is throughput scaling efficiency
≥ 0.8 from N to 4N executors, measured here as the 2→8 core pair;
local[CPUS] is reported as max-parallelism throughput.  Each level is a
``spark-submit --py-files`` run of ``jobs/run_pipeline.py --bench`` in a
fresh JVM over the same N_PAGES synthetic pages.  No-Spark controls
(``jobs/scaling_controls.py``) sampled before and after the ladder gate
the recording on the machine's memory-bandwidth scaling.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from graph4code_spark.session import _BASE_CONF, get_spark, stop_all  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
#: synthetic pages per scaling level: at this size the ~10 s of
#: core-count-independent driver wall per run (plan analysis, job set-up)
#: stays a small share of the 2-core level
N_PAGES = 96000

HEADLINE = [
    "kg_mentions",
    "kg_question_triples",
    "kg_doc_triples",
    "dedup_exact",
    "dedup_minhash",
    "sim_cosine_topk",
    "text_quality",
    "agg_pricing_summary",
    "join_topk_orders",
    "window_top3_orders",
    "events_hourly",
    "posts_xml_volume",
    # seeded-closure usage query + volume import counts
    "kg_type_inference",
    "top_modules_volume",
    # corpus hygiene + batch prep
    "pii_redact",
    "dedup_lines",
    "decontaminate",
    "pack_sequences",
    "corpus_pipeline",
    "kmeans_clusters",
    # temporal operators
    "events_sessionize",
    "asof_join_events",
    # semForms-analogue expression mining
    "semforms_expressions",
    # dataflow-normalized mining over the 8000-page corpus spine
    # (extraction at volume, the top_modules_volume shape)
    "semforms_corpus",
]


#: controls gate: a recording waits for a window in which the no-Spark
#: memory-bandwidth control scales 2→8 at ≥ GATE_MEMBW, sampling up to
#: GATE_ATTEMPTS times GATE_SLEEP_S apart (the last attempt records
#: anyway, flagged)
GATE_MEMBW = 0.8
GATE_ATTEMPTS = 3
GATE_SLEEP_S = 120
#: interleaved spark-submit rounds per scaling level
SUBMIT_REPS = 2


def _measure_controls() -> dict | None:
    """One no-Spark controls sample (cpu + membw 2→8 efficiency)."""
    try:
        run = subprocess.run(
            [sys.executable, os.path.join(REPO, "jobs", "scaling_controls.py"),
             "2", "8"],
            capture_output=True, text=True, cwd=REPO, timeout=600,
        )
        c = json.loads(run.stdout.strip().splitlines()[-1])["controls"]
        return {
            "cpu_efficiency": c["cpu"]["efficiency"],
            "membw_efficiency": c["membw"]["efficiency"],
        }
    except Exception:
        return None


def _wait_for_quiet_window() -> tuple[dict | None, bool, int]:
    """Sample controls until membw ≥ GATE_MEMBW or attempts run out.
    Returns (last controls, gate_passed, attempts_used)."""
    ctrl = None
    for attempt in range(1, GATE_ATTEMPTS + 1):
        ctrl = _measure_controls()
        if ctrl is None or ctrl["membw_efficiency"] >= GATE_MEMBW:
            return ctrl, ctrl is not None, attempt
        if attempt < GATE_ATTEMPTS:
            time.sleep(GATE_SLEEP_S)
    return ctrl, False, GATE_ATTEMPTS


_SPARK_SUBMIT = (
    shutil.which("spark-submit")
    or os.path.join(os.path.dirname(os.path.dirname(sys.executable)),
                    "bin", "spark-submit")
)


def _submit_levels(cores_list, n_pages: int, reps: int = SUBMIT_REPS) -> dict:
    """For each core count, ``spark-submit --master local[N] --py-files
    <zip> jobs/run_pipeline.py --bench 1``, launched as README "Launch"
    documents it.  The levels run interleaved (2,8,32, 2,8,32, ...) for
    ``reps`` rounds so a VM throttle window spreads across all levels
    instead of clobbering one, and each level keeps its min wall (noise
    only ever slows a run).  Each submit warms in-JVM once before its
    timed pass, so JVM start-up and JIT warm-up stay out of the wall."""
    zip_path = shutil.make_archive(
        os.path.join(REPO, "dist", "graph4code_spark"), "zip",
        root_dir=REPO, base_dir="graph4code_spark",
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    best: dict[int, dict] = {}
    for _rep in range(reps):
        for cores in cores_list:
            r = subprocess.run(
                [_SPARK_SUBMIT, "--master", f"local[{cores}]",
                 # the driver JVM starts before the session builder runs,
                 # so its memory and JIT flags go on the command line
                 "--driver-memory", _BASE_CONF["spark.driver.memory"],
                 "--driver-java-options",
                 _BASE_CONF["spark.driver.extraJavaOptions"],
                 "--py-files", zip_path,
                 os.path.join(REPO, "jobs", "run_pipeline.py"),
                 "--bench", "1", "--pages", str(n_pages)],
                capture_output=True, text=True, cwd=REPO, env=env,
                timeout=2700,
            )
            json_lines = [l for l in r.stdout.splitlines()
                          if l.startswith("{")]
            if not json_lines:
                raise RuntimeError(
                    f"submit level local[{cores}] produced no bench JSON "
                    f"(rc={r.returncode}); stderr tail:\n{r.stderr[-2000:]}"
                )
            rec = json.loads(json_lines[-1])
            if cores not in best or rec["sec"] < best[cores]["sec"]:
                best[cores] = rec
    return {
        str(c): {
            "cores": c, "pages": n_pages, "triples": best[c]["n_triples"],
            "sec": best[c]["sec"],
            "triples_per_sec": best[c]["triples_per_sec"],
        }
        for c in cores_list
    }


def _run_scaling() -> dict:
    """The 2→8 core pair plus local[CPUS], measured by ``_submit_levels``
    inside a controls bracket: a PRE sample admits the window and a POST
    sample validates it, since a throttle burst can open mid-ladder.  A
    ladder whose bracket fails the gate re-runs on a fresh window, up to
    three tries; the last is recorded either way with its controls
    attached, so a contaminated record is self-describing.
    ``efficiency_adjusted`` is the raw efficiency over the bracket's
    lower membw sample."""
    if not os.path.exists(_SPARK_SUBMIT):
        raise RuntimeError(f"spark-submit not found at {_SPARK_SUBMIT}")
    cores_list = [2, 8, CPUS]
    for _ladder_try in range(3):
        pre_ctrl, gate_ok, attempts = _wait_for_quiet_window()
        levels = _submit_levels(cores_list, N_PAGES)
        post_ctrl = _measure_controls()
        if (gate_ok and post_ctrl
                and post_ctrl["membw_efficiency"] >= GATE_MEMBW):
            break
        gate_ok = False

    efficiency = round(
        levels["8"]["triples_per_sec"] / (4 * levels["2"]["triples_per_sec"]), 3
    )
    out = {
        "protocol": "spark-submit",
        "low": levels["2"],
        "high": levels["8"],
        "levels": {k: v for k, v in levels.items() if int(k) != CPUS},
        "max_cores": levels[str(CPUS)],
        "efficiency_2v8": efficiency,
        "efficiency": efficiency,
        "controls_gate": {
            "threshold": GATE_MEMBW,
            "passed": gate_ok,
            "attempts": attempts,
            "pre": pre_ctrl,
            "post": post_ctrl,
        },
    }
    ctrl = post_ctrl or pre_ctrl
    if ctrl is not None:
        bw = min(c["membw_efficiency"] for c in (pre_ctrl, post_ctrl) if c)
        out["controls"] = dict(ctrl, membw_efficiency=bw)
        out["efficiency_adjusted"] = round(efficiency / bw, 3) if bw else None
    else:
        out["controls"] = {"error": "controls measurement failed"}
        out["efficiency_adjusted"] = None
    return out


def main() -> None:
    import __spark_entry__ as entry_mod

    scaling = _run_scaling()

    # gate the headline suite on its own quiet window (the ladder run
    # above can outlive the window the scaling gate sampled)
    head_ctrl, head_gate_ok, head_attempts = _wait_for_quiet_window()

    spark = get_spark("g4c-bench", master=f"local[{CPUS}]")
    qs = entry_mod.queries_full()
    timings: dict[str, float] = {}
    for name in HEADLINE:
        qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()  # warm
        best = float("inf")
        for _ in range(2):  # min-of-2, same rationale as the ladder min-wall
            t0 = time.time()
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)
    total = round(sum(timings.values()), 3)
    stop_all()

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    result = {
        "metric": "headline_suite_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "scaling": scaling,
        "headline_controls_gate": {
            "threshold": GATE_MEMBW,
            "passed": head_gate_ok,
            "attempts": head_attempts,
            "controls": head_ctrl,
        },
    }
    with open(os.path.join(REPO, "BENCH.md"), "w") as f:
        f.write(_bench_md(result))
    print(json.dumps(result))


def _bench_md(result: dict) -> str:
    """BENCH.md for one ``main`` result: the scaling levels with their
    gate and controls, then the headline timings with theirs."""
    s = result["scaling"]
    gate = s["controls_gate"]
    ctrl = s["controls"]
    lines = [
        "# BENCH — measured numbers (this repo)",
        "",
        f"Generated by `bench.py` at sf={result['sf']}.",
        "",
        "## KG pipeline throughput at two parallelism levels",
        "",
        f"Protocol **{s['protocol']}**: each level is one `spark-submit --py-files`",
        "run of `jobs/run_pipeline.py --bench 1` in a fresh JVM over the same",
        f"{s['low']['pages']} synthetic pages, warmed once in-JVM before its timed",
        f"pass; {SUBMIT_REPS} rounds with the levels interleaved, min wall per level.",
        "No-Spark controls (`jobs/scaling_controls.py`) sampled before and after",
        "the ladder bracket it. local[N] threads stand in for executors per",
        "BASELINE.md.",
        "",
        "| level | cores | pages | triples | sec | triples/sec |",
        "|---|---|---|---|---|---|",
    ]
    rows = [(f"local[{s['levels'][k]['cores']}]", s["levels"][k])
            for k in sorted(s["levels"], key=int)]
    for level, r in rows + [("max_cores", s["max_cores"])]:
        lines.append(
            f"| {level} | {r['cores']} | {r['pages']} | {r['triples']} "
            f"| {r['sec']} | {r['triples_per_sec']} |"
        )
    lines += [
        "",
        f"- headline `efficiency` 2→8 cores: **{s['efficiency_2v8']}**"
        " (target ≥ 0.8).",
        f"- controls gate: recording waited for a window with"
        f" membw-control ≥ {gate['threshold']}; passed={gate['passed']}"
        f" after {gate['attempts']} attempt(s) (pre/post samples bracket"
        " the ladder; the min is used below).",
        f"- same-session controls: pure-ALU {ctrl.get('cpu_efficiency', '—')},"
        f" memory-bandwidth {ctrl.get('membw_efficiency', '—')}.",
        f"- `efficiency_adjusted` (raw / memory-bandwidth control):"
        f" **{s['efficiency_adjusted']}**.",
    ]
    hg = result["headline_controls_gate"]
    hc = hg["controls"] or {}
    lines += [
        "",
        "## Headline query timings (sec, warmed, noop sink)",
        "",
        f"Own quiet-window gate: membw-control "
        f"{hc.get('membw_efficiency', '—')} (threshold {hg['threshold']}, "
        f"passed={hg['passed']}, {hg['attempts']} attempt(s)).",
        "",
        "| query | sec |",
        "|---|---|",
    ]
    for k, v in result["queries"].items():
        lines.append(f"| {k} | {v} |")
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    main()
