"""Short runs of every workload: each prints every metric ``BENCHMARK.json``
names, with its unit, and every output matches its reference.

Each run starts a JVM and takes about a minute.
"""

from __future__ import annotations

import json
import shutil
import subprocess
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [*BENCH["command"], "--workload", workload, "--seed", "0",
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def _units(key: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in BENCH[key]}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_workload_emits_every_metric(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stdout
    assert result["attempted"] >= 1
    want = _units("per_layer" if trace else "end_to_end")
    got = {n: m["unit"] for n, m in result["metrics"].items()}
    assert got == want
    values = {n: m["value"] for n, m in result["metrics"].items()}
    assert all(isinstance(v, (int, float)) for v in values.values())
    if trace and workload == "sensor_pipelines":
        # kriging's driver-side fit runs its jobs inside ordinary_kriging;
        # its mapInPandas predict runs in Python workers
        assert values["operators.interpolate.jobs"] >= 1
        assert values["python.total_s"] > 0
        assert values["streaming.batches"] >= 1
        assert values["operators.temporal.call_s"] > 0
    if trace and workload == "llm_curation":
        assert values["shuffle.read_bytes"] > 0
        assert values["operators.graph.call_s"] > 0
        assert values["operators.similarity.call_s"] > 0
    if not trace:
        assert all(v > 0 for v in values.values())


def test_fails_without_the_engine_sources(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(ROOT / p, tmp_path / p, ignore=shutil.ignore_patterns(".cache"))
    proc = _run(tmp_path, BENCH["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout

