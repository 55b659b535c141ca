"""Self-test of the benchmark and its traced breakdown.

    python3 -m pytest cdcbench/tests -q

The tracer tests need no Spark. The end-to-end tests run the benchmark
briefly on every workload in BENCHMARK.json (about a minute each) and
check that the traced layer self times add up to the drain and that
every metric named in BENCHMARK.json is printed with its unit.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from cdcbench import tracer as tracing  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _span(sid, name, parent, start, end, run=1):
    return {"id": sid, "name": name, "parent": parent, "run": run, "start": start, "end": end}


def test_self_times_subtract_the_union_of_children():
    spans = [
        _span(1, "engine.drain", None, 0.0, 10.0),
        _span(2, "apply.epoch", 1, 1.0, 5.0),
        _span(3, "manifest.commit", 2, 4.0, 4.5),
        _span(4, "manifest.current", 2, 4.2, 4.8),  # overlaps its sibling
        _span(5, "wal.done", 1, 5.0, 5.5),
    ]
    own = tracing.self_times(spans)
    assert own[1] == pytest.approx(10.0 - 4.0 - 0.5)
    assert own[2] == pytest.approx(4.0 - 0.8)
    # overlapping siblings count their overlap twice: the sum exceeds the
    # drain, which is what the end-to-end check below would catch
    assert sum(own.values()) == pytest.approx(10.0 + 0.3)


def test_breakdown_sums_to_the_drain_and_keeps_folds_apart():
    t = tracing.Tracer()
    t.spans = [
        _span(1, "engine.drain", None, 0.0, 10.0),
        _span(2, "wal.groups", 1, 0.5, 1.0),
        _span(3, "apply.epoch", 1, 1.0, 6.0),
        _span(4, "manifest.commit", 3, 5.5, 6.0),
        _span(5, "wal.done", 1, 6.0, 6.2),
        _span(6, "manifest.fold", None, 3.0, 9.0),  # concurrent root
        _span(7, "manifest.current", 6, 3.0, 3.1),
    ]
    t.apply_results = [
        {"run": 1, "n_events": 100, "touched": 2, "rows": 50,
         "timings": {"setup": 0.5, "merge_write": 3.0}},
    ]
    b = tracing.breakdown(t, [t.spans[0]])
    layers = sum(b[f"{layer}.self_s"] for layer in tracing.LAYERS)
    assert b["engine.trigger_overhead_s"] + layers == pytest.approx(b["engine.drain_s"])
    assert b["engine.trigger_overhead_s"] == pytest.approx(10.0 - 0.5 - 5.0 - 0.2)
    assert b["engine.drain_tail_s"] == pytest.approx(10.0 - 6.2)
    assert b["manifest.fold_s"] == pytest.approx(6.0)
    assert "manifest.current_calls" not in b  # the fold's read is not the drain's
    assert b["apply.commit_tail_s"] == pytest.approx(5.0 - 3.5)
    assert b["apply.rows_written_per_event"] == pytest.approx(0.5)


def _run(workload: str, trace: int, seconds: int = 2, cwd: str = ROOT):
    p = subprocess.run(
        [sys.executable, "cdcbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return p


def _result(p) -> tuple[dict, dict]:
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    return res, json.loads(lines[-2])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_benchmark_prints_every_metric_and_the_breakdown_adds_up(workload):
    res, detail = _result(_run(workload, trace=0))
    assert detail["error_rate"] == 0.0
    assert {"nproc", "mem_total_mb", "pyspark", "java", "git_head"} <= set(detail["host"])
    for m in SPEC["end_to_end"]:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0, (m, got)

    res, _ = _result(_run(workload, trace=1))
    metrics = {k: v["value"] for k, v in res["metrics"].items()}
    for m in SPEC["per_layer"]:
        assert res["metrics"][m["name"]]["unit"] == m["unit"], m
    drain = metrics["engine.drain_s"]
    parts = metrics["engine.trigger_overhead_s"] + sum(
        metrics[f"{layer}.self_s"] for layer in tracing.LAYERS
    )
    assert drain > 0 and metrics["engine.trigger_overhead_s"] > 0
    assert abs(parts - drain) <= 0.02 * drain, (parts, drain)
    assert os.path.exists(os.path.join(ROOT, ".bench_out", f"spans-{workload}-seed7.jsonl"))


def test_refuses_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for d in SPEC["paths"]:
        shutil.copytree(
            os.path.join(ROOT, d), tmp_path / d,
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    p = _run(SPEC["workloads"][0]["name"], trace=0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
