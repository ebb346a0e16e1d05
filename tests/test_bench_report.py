"""`bench.py` without Spark: the BENCH.md render of the recorded run, the
scaling record's shape and gate, and the spark-submit command line."""

import json
import os
import subprocess
import sys
import types

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from graph4code_spark.session import _BASE_CONF  # noqa: E402

with open(os.path.join(REPO, "BENCH_r05.json")) as f:
    PARSED = json.load(f)["parsed"]
SCALING = PARSED["scaling"]


def _table_lines(text: str) -> list[str]:
    return [l for l in text.splitlines() if l.startswith("|")]


def test_bench_md_renders_the_recorded_run():
    md = bench._bench_md(PARSED)
    with open(os.path.join(REPO, "BENCH.md")) as f:
        assert _table_lines(md) == _table_lines(f.read())
    lines = _table_lines(md)
    assert "| local[2] | 2 | 96000 | 1377696 | 86.708 | 15888.9 |" in lines
    assert "| local[8] | 8 | 96000 | 1377696 | 24.59 | 56026.2 |" in lines
    assert "| max_cores | 32 | 96000 | 1377696 | 17.511 | 78676.8 |" in lines
    for name, sec in PARSED["queries"].items():
        assert f"| {name} | {sec} |" in lines
    assert len(lines) == 2 + 3 + 2 + len(bench.HEADLINE)


def _canned_levels(cores_list, n_pages, reps=bench.SUBMIT_REPS):
    levels = dict(SCALING["levels"], **{str(bench.CPUS): SCALING["max_cores"]})
    return {str(c): levels[str(c)] for c in cores_list}


def _scaling(monkeypatch, controls, submit=_canned_levels):
    """``_run_scaling`` on canned levels and controls samples; returns the
    record, the number of ladders run and the sleeps taken."""
    samples = iter(controls)
    ladders, sleeps = [], []
    monkeypatch.setattr(bench, "CPUS", 32)
    monkeypatch.setattr(bench, "_SPARK_SUBMIT", sys.executable)
    monkeypatch.setattr(bench, "_measure_controls", lambda: next(samples))
    monkeypatch.setattr(bench.time, "sleep", sleeps.append)

    def levels(cores_list, n_pages):
        ladders.append((cores_list, n_pages))
        return submit(cores_list, n_pages)

    monkeypatch.setattr(bench, "_submit_levels", levels)
    return bench._run_scaling(), ladders, sleeps


def test_run_scaling_reproduces_the_recorded_record(monkeypatch):
    gate = SCALING["controls_gate"]
    out, ladders, sleeps = _scaling(monkeypatch, [gate["pre"], gate["post"]])
    assert set(out) == set(SCALING)
    assert out == SCALING
    assert ladders == [([2, 8, 32], 96000)]
    assert sleeps == []


def test_run_scaling_gate_retries_then_records_flagged(monkeypatch):
    throttled = {"cpu_efficiency": 0.9, "membw_efficiency": 0.5}
    # each ladder try: 3 gate attempts 120 s apart, the ladder, a post sample
    out, ladders, sleeps = _scaling(monkeypatch, [throttled] * 12)
    assert len(ladders) == 3
    assert sleeps == [120] * 6
    assert out["controls_gate"] == {
        "threshold": 0.8, "passed": False, "attempts": 3,
        "pre": throttled, "post": throttled,
    }
    assert out["efficiency_adjusted"] == round(out["efficiency"] / 0.5, 3)


def test_run_scaling_requires_spark_submit(monkeypatch, tmp_path):
    missing = str(tmp_path / "no-spark-submit")
    monkeypatch.setattr(bench, "_SPARK_SUBMIT", missing)

    def unreachable(*args, **kwargs):
        raise AssertionError("no measurement runs without spark-submit")

    monkeypatch.setattr(bench, "_measure_controls", unreachable)
    monkeypatch.setattr(bench, "_submit_levels", unreachable)
    with pytest.raises(RuntimeError, match=missing):
        bench._run_scaling()


def test_submit_levels_launches_like_the_readme(monkeypatch, tmp_path):
    calls = []
    walls = iter([3.0, 2.0, 4.0, 1.0])

    def run(cmd, **kwargs):
        calls.append(cmd)
        sec = next(walls)
        rec = {"mode": "bench", "n_triples": 100, "sec": sec,
               "triples_per_sec": round(100 / sec, 1)}
        return types.SimpleNamespace(stdout="log line\n" + json.dumps(rec) + "\n",
                                     stderr="", returncode=0)

    monkeypatch.setattr(subprocess, "run", run)
    monkeypatch.setattr(bench.shutil, "make_archive",
                        lambda *a, **k: str(tmp_path / "graph4code_spark.zip"))
    levels = bench._submit_levels([1, 2], 400, reps=2)

    assert [c[c.index("--master") + 1] for c in calls] == ["local[1]", "local[2]"] * 2
    for cmd in calls:
        assert cmd[0] == bench._SPARK_SUBMIT
        assert (cmd[cmd.index("--driver-java-options") + 1]
                == _BASE_CONF["spark.driver.extraJavaOptions"])
        assert cmd[cmd.index("--driver-memory") + 1] == _BASE_CONF["spark.driver.memory"]
        assert cmd[cmd.index("--py-files") + 1] == str(tmp_path / "graph4code_spark.zip")
        assert cmd[-4:] == ["--bench", "1", "--pages", "400"]
    # min wall per level across the interleaved rounds
    assert levels == {
        "1": {"cores": 1, "pages": 400, "triples": 100, "sec": 3.0,
              "triples_per_sec": 33.3},
        "2": {"cores": 2, "pages": 400, "triples": 100, "sec": 1.0,
              "triples_per_sec": 100.0},
    }
