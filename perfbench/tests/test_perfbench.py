"""Tests of the benchmark's own code (not of the engine).

    python -m pytest perfbench/tests -q

The smoke runs start Spark on tiny fixtures and take about a minute
each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import report, workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _span(i, parent, start, end, layer="x", name=None, jobs=0, **sums):
    return {
        "span_id": i, "parent_id": parent, "run_id": "t", "name": name or f"{layer}.f{i}",
        "layer": layer, "start": start, "end": end, "attrs": {}, "jobs": jobs, "stages": 0,
        "stage_sums": sums, "slowest_stage_ms": 0, "slowest_stage_skew": 0.0,
        "cached_blocks_after": 0,
    }


def test_self_time_subtracts_union_of_children():
    parent = _span(0, None, 0.0, 10.0)
    kids = [
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),  # overlaps the first: counted once
        _span(3, 0, 7.0, 8.0),
        _span(4, 0, 9.5, 12.0),  # runs past the parent: clipped
    ]
    assert report.self_time(parent, kids) == pytest.approx(10.0 - 4.0 - 1.0 - 0.5)
    assert report.self_time(parent, []) == pytest.approx(10.0)


def test_layer_metrics_on_synthetic_tree():
    spans = [
        # the interval's own job stands for the freshness read
        _span(0, None, 0.0, 10.0, layer="pipeline.runner", name="medallion.interval", jobs=1,
              executorRunTime=1000),
        _span(1, 0, 0.5, 9.0, layer="pipeline.runner", name="medallion.incremental_run"),
        _span(2, 1, 1.0, 6.0, layer="pipeline.silver", jobs=2, inputRecords=300,
              outputRecords=100, executorRunTime=2000),
        _span(3, 2, 2.0, 4.0, layer="sources.writers", jobs=3, outputBytes=50,
              inputRecords=0, outputRecords=100),
        _span(4, 1, 6.0, 9.0, layer="pipeline.gold", jobs=4),
    ]
    spans[0]["attrs"]["interval"] = 0
    m = report.layer_metrics(spans, cores=4)
    assert set(m) == {name for name, _ in report.PER_LAYER}
    assert m["pipeline.silver.self_s"] == pytest.approx(3.0)
    assert m["pipeline.silver.jobs"] == 5  # its own and the writer's
    assert m["pipeline.silver.read_amplification"] == pytest.approx(300 / 200)
    assert m["sources.writers.calls"] == 1
    assert m["sources.writers.output_bytes"] == 50
    assert m["pipeline.runner.jobs_per_interval"] == 9  # incremental_run only
    assert m["spark.task_s"] == pytest.approx(3.0)
    assert m["spark.idle_share"] == pytest.approx(1 - 3.0 / (10.0 * 4))
    assert m["operators.dedup.calls"] == 0  # idle layer reads 0
    assert report.check_nesting(spans) == []
    spans[4]["end"] = 20.0
    assert report.check_nesting(spans) == ["medallion.incremental_run"]


def test_corrupted_result_counts_as_failed():
    good = pd.DataFrame({"b": [2.5, 1.0], "a": ["y", "x"]})
    bad = good.copy()
    bad.loc[0, "b"] = 2.6
    wl = workloads.CorpusOperators(0, 1, "/nonexistent", workloads.SHAPES["tiny"])
    wl.expected = {"q": workloads.fingerprint(good)}
    out = workloads.Outcome()
    workloads._timed_check(out, "q", lambda: good.iloc[::-1], lambda got: wl.check("q", got))
    workloads._timed_check(out, "q", lambda: bad, lambda got: wl.check("q", got))
    assert (out.attempted, out.failed) == (2, 1)
    # an op that raises is attempted and failed, and the run goes on
    workloads._timed_check(out, "boom", lambda: 1 / 0, lambda got: "")
    assert (out.attempted, out.failed) == (3, 2)

    from tests.oracle_utils import _canon

    assert workloads.frames_match(good, _canon(good)) == ""
    assert "row" in workloads.frames_match(bad, _canon(good))
    rows = [{"event_date": "2025-09-01", "segment_type": "TOTAL", "dau": 7}]
    assert workloads.check_dau(rows, {"2025-09-01": 7}) == ""
    assert workloads.check_dau(rows, {"2025-09-01": 8}) != ""


def _run(cwd, *args, env=None):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True, text=True,
        timeout=600, env={**os.environ, **(env or {})},
    )


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_emits_every_metric(workload, trace):
    proc = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
                "--trace", str(trace), env={"PERFBENCH_SHAPE": "tiny"})
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-3000:]
    listed = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in listed
    }
    for name, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), name
        if not trace:
            assert v["value"] > 0, name


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "--workload", BENCH["workloads"][0]["name"], "--seed", "1",
                "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
