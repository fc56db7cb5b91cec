"""Tiny-scale runs of every workload through the benchmark command, the
output contract, and the failure exit outside a repository.

Each Spark run takes about a minute (JVM start plus first codegen
dominate at any scale)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload: str, trace: int, scale: float = 0.05, cwd: str = ROOT, cmd=None):
    cmd = cmd or SPEC["command"]
    return subprocess.run(
        cmd + ["--workload", workload, "--seed", "11", "--seconds", "1", "--trace", str(trace),
               "--scale", str(scale)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def check_output(p, names: list[dict]) -> dict:
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert list(result["metrics"]) == [m["name"] for m in names]
    for m in names:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
        assert isinstance(result["metrics"][m["name"]]["value"], (int, float))
        # every metric is also printed on its own line with its unit
        assert any(line.split()[0::2] == [m["name"], m["unit"]] for line in lines
                   if len(line.split()) == 3), m["name"]
    return result


# per-layer metrics each traced run must reach (a layer a workload does
# not reach reads 0)
REACHED = {
    # the companions: a resume and the three queries, after the timed window
    "transcripts_warm": ("session.start_s", "checks.engine.build_s", "spark.task_s",
                         "checks.checkpoint.run_s", "checks.checkpoint.files_skipped",
                         "checks.checkpoint.bytes_written", "minhash_lsh_documents.exec_s",
                         "drift_suite_events.jobs", "functional_dependency_lineitem.build_s"),
    # from the event log of the CLI process
    "cli_cold": ("session.start_s", "cli.outside_s", "spark.task_s", "spark.driver_gap_s"),
}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_smoke_run_prints_every_per_layer_metric(workload):
    result = check_output(run(workload, trace=1), SPEC["per_layer"])
    for name in REACHED[workload]:
        assert result["metrics"][name]["value"] > 0, name


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_untraced_smoke_run_prints_every_end_to_end_metric(workload):
    result = check_output(run(workload, trace=0), SPEC["end_to_end"])
    for m in SPEC["end_to_end"]:
        assert result["metrics"][m["name"]]["value"] > 0, m["name"]


@pytest.mark.parametrize("workload,scale", [("drift_dedup_sf01", 0.2), ("resume_small_files", 0.25)])
def test_on_demand_smoke_run(workload, scale):
    """The workloads outside BENCHMARK.json still run and pass their
    oracles."""
    assert workload not in {w["name"] for w in SPEC["workloads"]}
    check_output(run(workload, trace=1, scale=scale), SPEC["per_layer"])


def test_suite_matches_bench_headline_suite():
    sys.path[:0] = [ROOT]
    import bench
    import workloads

    assert workloads.transcripts_suite() == bench._transcripts_suite()


def test_fails_without_the_repository(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    env = dict(os.environ, PYTHONPATH="")
    p = subprocess.run(SPEC["command"] + ["--workload", "transcripts_warm", "--seed", "1",
                                          "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=180, env=env)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
