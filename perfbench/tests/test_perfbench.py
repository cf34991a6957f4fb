"""Toy-size self-test of the benchmark harness.

    python3 -m pytest perfbench/tests -q

Runs every workload on tiny inputs, untraced and traced, and checks the
output contract, the units, the bypass predictions the trace must show,
and that a wrong expected value and a checkout without the engine both
fail. Takes a few minutes: each run starts its own JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench.run import E2E, LAYERS, WORKLOAD_NAMES  # noqa: E402


def bench(*args: str, cwd: str = ROOT) -> tuple[int, dict | None]:
    out = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--toy",
         "--seed", "3", "--seconds", "4", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = out.stdout.strip().splitlines()
    return out.returncode, json.loads(lines[-1]) if lines else None


@pytest.fixture(scope="module")
def traced():
    return {w: bench("--workload", w, "--trace", "1") for w in WORKLOAD_NAMES}


def test_benchmark_json_matches_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOAD_NAMES)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYERS
    assert spec["paths"] == ["perfbench"]


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_end_to_end_metrics(workload):
    code, res = bench("--workload", workload, "--trace", "0")
    assert code == 0 and res["correct"] and res["failed"] == 0
    assert res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == E2E
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_per_layer_metrics_and_bypass_predictions(traced):
    layer = {}
    for w, (code, res) in traced.items():
        assert code == 0 and res["correct"], w
        assert {k: v["unit"] for k, v in res["metrics"].items()} == LAYERS
        layer[w] = {k: v["value"] for k, v in res["metrics"].items()}
    cow, mor = layer["upsert_cow"], layer["tail_mor"]
    # MoR appends batch winners without reading the target; CoW reads it
    assert mor["tables.target_scan_rows"] == 0
    assert cow["tables.target_scan_rows"] > 0
    # CoW rewrites whole buckets: more rows written per applied event
    assert cow["tables.rows_written_per_event"] > mor["tables.rows_written_per_event"]
    # only tail_mor compacts; only upsert_cow's traced run runs the queries
    assert cow["tables.compact_s"] == 0 and mor["tables.compact_s"] > 0
    assert mor["query.geomean_s"] == 0 and cow["query.geomean_s"] > 0
    for m in (cow, mor):
        assert m["trace.accounted_frac"] >= 0.9
        assert m["pipeline.spark_jobs_per_batch"] >= 1
        assert m["extract.rows"] > 0 and m["dedup.rows_out"] > 0
        assert m["change_log.scan_rows"] > 0 and m["executor.cpu_s"] > 0


def test_wrong_expectation_fails():
    code, res = bench("--workload", "upsert_cow", "--trace", "0", "--corrupt-oracle")
    assert code != 0
    assert res["correct"] is False and res["failed"] >= 1


def test_fails_without_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, res = bench("--workload", "upsert_cow", "--trace", "0", cwd=str(tmp_path))
    assert code != 0 and res is None
