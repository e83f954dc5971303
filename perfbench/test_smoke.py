"""Smoke test of the benchmark itself: every workload at its smallest
size for a few seconds, untraced and traced.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that every end-to-end and per-layer metric of BENCHMARK.json is
printed with its unit, that every workload's own named metrics carry
units, that the outputs are correct, and that the traced runs together
reach every layer of the per-layer table. Each run starts its own
Spark JVM, so the whole test takes a few minutes.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
# the contract's workloads plus bulk_ivm, which reaches the Spark-side
# ingest and refresh layers, and tick_dashboard, whose reads overlap
# the MVs' refreshes
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["bulk_ivm", "tick_dashboard"]

# layer -> its metrics; every one must be non-zero in some workload's
# traced run
LAYERS = {
    "core": ["core.insert_row.p50_ms", "core.insert.p50_ms", "core.fetch.p50_ms",
             "core.poll.count"],
    "plans.rewrite": ["rewrite.classify.p50_ms", "rewrite.rewrite_query.p50_ms"],
    "engine ingest": ["engine.insert_rows_local.p50_ms", "engine.insert_df.p50_ms",
                      "engine.update_rows.p50_ms", "engine.delete_rows.p50_ms"],
    "engine refresh": ["engine.flush.p50_ms"] + [
        f"engine.refresh_mv.{r}.p50_ms"
        for r in ("direct", "inc", "inc_joinagg", "snapshot_diff")],
    "engine cursor and sql": ["engine.fetch_cursor.p50_ms", "engine.sql.p50_ms"],
    "query library": ["query.build_ms", "query.run_ms", "query.jobs"],
    "session / Spark runtime": ["spark.jobs", "jvm.heap_peak_mb"],
    "generator": ["gen.events"],
}
EVERY = [m for ms in LAYERS.values() for m in ms]

_runs: dict[tuple[str, int], tuple[dict, dict]] = {}


def run(workload: str, trace: int) -> tuple[dict, dict]:
    key = (workload, trace)
    if key not in _runs:
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload,
             "--seed", "7", "--seconds", "3", "--trace", str(trace), "--tiny"],
            cwd=ROOT, capture_output=True, text=True, timeout=300)
        assert proc.returncode == 0, proc.stderr[-3000:]
        lines = proc.stdout.strip().splitlines()
        _runs[key] = (json.loads(lines[-2])["report"], json.loads(lines[-1]))
    return _runs[key]


def check_result(result: dict, names: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in names}
    for m in names:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_prints_end_to_end_metrics(workload):
    report, result = run(workload, 0)
    check_result(result, SPEC["end_to_end"])
    for m in SPEC["end_to_end"]:
        assert result["metrics"][m["name"]]["value"] > 0, m["name"]
    for m in report["named"]:
        assert m["unit"] and m["better"] in ("lower", "higher"), m
    assert report["host"]["nproc"] >= 1 and report["session"]["master"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_prints_per_layer_metrics(workload):
    report, result = run(workload, 1)
    check_result(result, SPEC["per_layer"])
    assert report["trace"]["spans"] > 0
    assert report["trace"]["self_ms_by_layer"]


def test_traced_runs_cover_every_layer():
    reached = {m for w in WORKLOADS
               for m, v in run(w, 1)[1]["metrics"].items() if v["value"]}
    missing = [m for m in EVERY if m not in reached]
    assert not missing, f"layers not reached by any traced run: {missing}"
