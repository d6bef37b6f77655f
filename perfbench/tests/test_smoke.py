"""Each workload end to end at toy size, the traced serving run's span
tree, and the entry point's refusal to run without the package."""

from __future__ import annotations

import json
import shutil
import subprocess
import sys

import pytest

import traced
import workloads
from harness import Ctx, end_to_end
from run import ROOT

TOY = {
    "validate_full": {"partitions": 2, "clips_per_partition": 60},
    "validate_incremental": {"cycles": 2, "per_batch": 1, "partitions": 2,
                             "clips_per_partition": 60},
    "serve_sensors": {"events": 2000},
    "dedup_corpus": {"docs": 120, "images_per_partition": 12},
}


@pytest.mark.parametrize("name", sorted(TOY))
def test_workload_runs_correct_at_toy_size(name, tmp_path, monkeypatch):
    cls = workloads.WORKLOADS[name]
    for attr, value in TOY[name].items():
        monkeypatch.setattr(cls, attr, value)
    ctx = Ctx(str(tmp_path), seed=5, cores=2)
    m, metrics = end_to_end(ctx, cls, 0.1)
    assert m.failed == 0, m.errors
    assert m.attempted > 0 and m.ops
    assert len(m.reps) == 1  # the warm-up repetition is not a sample
    for key, (value, _unit) in metrics.items():
        assert value > 0, key


def test_traced_serving_spans_all_close_under_recorded_parents(tmp_path, monkeypatch):
    cls = workloads.WORKLOADS["serve_sensors"]
    for attr, value in TOY["serve_sensors"].items():
        monkeypatch.setattr(cls, attr, value)
    ctx = Ctx(str(tmp_path / "work"), seed=5, cores=2)
    m, metrics, _notes = traced.run(ctx, cls, 0.1)
    assert m.failed == 0, m.errors
    assert metrics["serving.jobs_per_request"][0] > 0
    with open(tmp_path / "spans-serve_sensors-5.jsonl") as fh:
        spans = [json.loads(line) for line in fh]
    ids = {s["span_id"] for s in spans}
    # the probe oracle never opens a handler span that no response closes
    assert all(s["parent"] is None or s["parent"] in ids for s in spans)
    assert all(s["self_s"] > -1e-9 for s in spans)


def test_entry_point_fails_without_the_package(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "validate_full",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout == ""
