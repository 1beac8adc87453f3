"""End-to-end runs of ``perfbench/run.py`` at tiny sizes: every metric that
``BENCHMARK.json`` declares is emitted, with its unit."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import harness, run, workloads

BENCH = json.load(open(os.path.join(harness.ROOT, "BENCHMARK.json")))


def test_declared_metrics_are_the_emitted_ones():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == run.LAYER_UNITS
    assert sorted(w["name"] for w in BENCH["workloads"]) == sorted(workloads.WORKLOADS)


@pytest.fixture
def tiny_sizes(monkeypatch):
    monkeypatch.setattr(workloads.PitFlagship, "n_docs", 400)
    monkeypatch.setattr(workloads.PitFlagship, "oracle_docs", 4)
    monkeypatch.setattr(workloads.PitFlagship, "warm_s", 0.0)
    monkeypatch.setattr(workloads.RegistryHead, "head_n", 3)
    monkeypatch.setattr(workloads.RegistryHead, "sf", 0.001)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_every_metric_is_emitted_with_its_unit(name, tiny_sizes, capsys):
    code = run.main(["--workload", name, "--seed", "3", "--seconds", "0",
                     "--trace", "1"])
    lines = capsys.readouterr().out.strip().splitlines()
    assert code == 0
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == run.LAYER_UNITS
    art = json.load(open(json.loads(lines[-2])["artifact"]))
    assert set(art["end_to_end"]) == set(run.E2E_UNITS)
    assert all(v > 0 for v in art["end_to_end"].values())
    assert art["provenance"]["nproc"] == harness.nproc()
    assert art["plan_hashes"] and art["input"]["seed"] == 3
    assert not os.path.exists(harness.WORK)


def test_refuses_a_directory_without_the_program(tmp_path):
    """Run from a directory holding only the benchmark: exits non-zero,
    prints no result."""
    import shutil

    shutil.copytree(os.path.join(harness.ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(harness.ROOT, "BENCHMARK.json"), tmp_path)
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pit_flagship",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert r.returncode != 0
    assert r.stdout.strip() == ""
