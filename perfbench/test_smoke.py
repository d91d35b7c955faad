"""Smoke test of the benchmark itself (slow: about six minutes).

Run from the repository root: ``python -m pytest perfbench/test_smoke.py -q``.

Each workload (the three in BENCHMARK.json and ``lake_queries``) runs
once with a tiny ingest collection and a one-second measuring window.
The test checks the result line against BENCHMARK.json (every metric,
with its unit), that a traced run of each prints every per-layer metric
and the workload's own layer figures (the funnel's six stages among
them), that a perturbed expected value turns into ``error_rate > 0`` and
a non-zero exit, and that the benchmark refuses to run without the
program it measures.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import WORKLOAD_NAMES  # noqa: E402
from workloads import FUNNEL_STAGES  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def bench(*args: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--seed", "7",
         "--seconds", "1", "--items", "200", *args],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=300,
    )
    return proc.returncode, proc.stdout.splitlines()


def parse(lines: list[str]) -> tuple[dict, dict]:
    record = json.loads(lines[-2])["perfbench"]
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    return record, result


def units(section: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[section]}


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_every_end_to_end_metric_prints_with_its_unit(workload):
    rc, lines = bench("--workload", workload, "--trace", "0")
    record, result = parse(lines)
    assert rc == 0, record["failures"]
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units("end_to_end")
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert record["error_rate"] == 0
    assert {"nproc", "ram_gb", "free_disk_gb", "python", "java", "spark"} <= set(record["host"])


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_traced_run_prints_every_layer_metric(workload):
    rc, lines = bench("--workload", workload, "--trace", "1")
    record, result = parse(lines)
    assert rc == 0, record["failures"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units("per_layer")
    layers = record["layers"]
    if workload.startswith("ingest_"):
        ratio = layers["ingest.fetcher.distinct_url_ratio"]
        # 200 items, one page: 201 of 201 URLs distinct, or about 41 with a pool of 40
        assert ratio > 0.99 if workload == "ingest_unique" else ratio < 0.5
        assert layers["ingest.transport.request_p50_ms"] > 0
        assert layers["ingest.store.bytes_written"] > 0
    elif workload == "curation_funnel":
        for stage in FUNNEL_STAGES:
            assert layers[f"funnel.{stage}_s"] > 0, stage
            assert f"funnel.{stage}.task_s" in layers, stage
        assert layers["funnel.scan_amplification"] > 0
    else:
        assert layers["queries.catalog.build_s"] > 0 and layers["spark.exec_s"] > 0


def test_perturbed_expectation_fails(tmp_path):
    # A checkout whose recorded funnel count is off by one.
    for name in ("automated_data_pipeline_python_spark", "bench.py", "examples", "tools"):
        os.symlink(os.path.join(ROOT, name), tmp_path / name)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    path = tmp_path / "perfbench" / "expected.json"
    expected = json.loads(path.read_text())
    expected["curation_funnel"]["after_gate"] += 1
    path.write_text(json.dumps(expected))
    rc, lines = bench("--workload", "curation_funnel", cwd=str(tmp_path))
    record, result = parse(lines)
    assert rc != 0
    assert not result["correct"] and result["failed"] > 0
    assert record["error_rate"] > 0


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    rc, lines = bench("--workload", "lake_queries", cwd=str(tmp_path))
    assert rc != 0
    assert not any(line.startswith('{"correct"') for line in lines)
