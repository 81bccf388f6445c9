"""Tests of the benchmark itself (not part of the product's tier-1 suite).

Run from the repository root::

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The smoke tests start one JVM per workload on a tiny clip count, so the
file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import checks  # noqa: E402
import inputs  # noqa: E402
from spans import Tracer  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
TINY = {**os.environ, "PERFBENCH_CLIPS": "200"}


def run_bench(workload: str, trace: int = 0, cwd: Path = ROOT, timeout: int = 400):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, env=TINY, capture_output=True, text=True, timeout=timeout)


def result_of(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_each_workload(workload):
    res = result_of(run_bench(workload))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    for m in SPEC["end_to_end"]:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0


def test_traced_run_reports_every_layer():
    res = result_of(run_bench("suite_audio", trace=1))
    assert res["correct"] is True
    assert set(res["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    m = {k: v["value"] for k, v in res["metrics"].items()}
    for name in ("pipeline.plan_s", "audio.stage_s", "audio.synth_us", "uniqueness.s",
                 "integrity.s", "validate.rows_s", "self.spark_s"):
        assert m[name] > 0, name
    spans = json.loads((HERE / ".work" / "spans-suite_audio-7.json").read_text())
    assert {"name", "start", "end", "parent", "pass"} <= set(spans[0])


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".inputs", "__pycache__"))
    proc = run_bench("suite_audio", cwd=tmp_path, timeout=170)
    assert proc.returncode != 0
    assert not proc.stdout.strip()


def test_dropped_violation_row_fails_the_check(monkeypatch):
    """A program that loses one violation row must fail the output check."""
    import procs
    import run
    import workloads

    run.size_host()
    from jesse_spark.plans import pipeline

    real = pipeline.run_full_suite
    victim = checks.expected_clip_violations(200, "suite_audio")[0]
    victim_id = sorted(victim)[0][0]

    def lossy(*a, **kw):
        from pyspark.sql import functions as F

        res = real(*a, **kw)
        res.violations = res.violations.filter(F.col("clip_id") != victim_id)
        return res

    monkeypatch.setattr(pipeline, "run_full_suite", lossy)
    try:
        with procs.RssSampler() as rss:
            ctx = workloads.Ctx(root=ROOT, work=run.WORK, cache=run.CACHE, seed=7,
                                seconds=0.1, cpus=2, t_start=0.0, rss=rss, clips=200)
            out = workloads.suite_audio(ctx)
    finally:
        procs.stop_spark()
    assert out.failed >= 1
    assert any("1 missing" in e for e in out.errors)


def test_known_gaps_apply_only_when_listed(monkeypatch):
    exp, invalid = checks.expected_clip_violations(2000, "suite_audio")
    assert invalid == 30
    assert len(exp) == 45 - 2        # rows 1557 and 1957 are the listed gaps
    monkeypatch.setattr(checks, "known_gaps", lambda: {})
    assert len(checks.expected_clip_violations(2000, "suite_audio")[0]) == 45


def test_diff_sets_and_oracle_compare_catch_one_row():
    import pandas as pd

    exp = {("a", "c", "/p"), ("b", "c", "/p")}
    assert checks.diff_sets(exp, exp) == ""
    assert "1 missing" in checks.diff_sets(exp - {("a", "c", "/p")}, exp)
    df = pd.DataFrame({"id": [1, 2, 3], "v": [0.5, 1.0, 2.0]})
    assert checks.compare_to_oracle(df, df.iloc[::-1]) == ""
    assert checks.compare_to_oracle(df.iloc[:2], df) != ""
    assert checks.compare_to_oracle(df.assign(v=[0.5, 1.0, 2.5]), df) != ""


def test_query_order_is_a_seeded_permutation():
    names = [f"q{i}" for i in range(34)]
    a, b = inputs.query_order(names, 1), inputs.query_order(names, 2)
    assert sorted(a) == sorted(names) and a == inputs.query_order(names, 1) and a != b


def test_self_time_subtracts_children():
    tr = Tracer()
    spans = [
        {"id": 0, "name": "a", "layer": "x", "start": 0.0, "end": 10.0, "parent": None, "pass": "p"},
        {"id": 1, "name": "b", "layer": "y", "start": 1.0, "end": 4.0, "parent": 0, "pass": "p"},
        {"id": 2, "name": "b", "layer": "y", "start": 2.0, "end": 3.0, "parent": 1, "pass": "p"},
    ]
    assert tr.self_times(spans) == {0: 7.0, 1: 2.0, 2: 1.0}
    tr.spans = spans
    assert tr.durations("b") == [3.0]
