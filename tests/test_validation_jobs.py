"""Spark-job budget of one validation pass.

The per-partition aggregates of a rule set are one collected
partition-stats action at compile time, drift is scored on the driver,
and the verdict rows are collected once by ``record_run``. These tests
count the jobs each piece starts (job group + statusTracker), so a change
that brings back a per-rule action or a lineage re-read fails here.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from use_case_real_time_anomaly_detection_spark import runner
from use_case_real_time_anomaly_detection_spark.operators.config import (
    load_ruleset_document,
)
from use_case_real_time_anomaly_detection_spark.operators.compiler import compile_rules
from use_case_real_time_anomaly_detection_spark.operators.rules import DriftRule
from use_case_real_time_anomaly_detection_spark.operators.schema import with_partition_cols
from use_case_real_time_anomaly_detection_spark.plans import clips as plans
from use_case_real_time_anomaly_detection_spark.sources.synth import (
    SynthSpec,
    frontier_of,
    manifest_pandas,
    metadata_pandas,
)
from use_case_real_time_anomaly_detection_spark.sources.tables import get_catalog
from use_case_real_time_anomaly_detection_spark.streaming.checkpoint import CheckpointStore

SPEC = SynthSpec(partitions=3, clips_per_partition=60)


def _jobs(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, "job-budget probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    """The synthetic clip table with empty payloads (every test here runs
    the metadata rules only) and its manifest, written without Spark."""
    root = tmp_path_factory.mktemp("jobs")
    clips = metadata_pandas(SPEC).assign(bytes=b"")
    for name, frame in (("clips", clips), ("manifest", manifest_pandas(SPEC))):
        (root / name).mkdir()
        pq.write_table(
            pa.Table.from_pandas(frame, preserve_index=False),
            str(root / name / "part-0.parquet"),
        )
    return root


def test_runner_pass_job_budget_and_summary_without_jobs(
    spark, corpus, tmp_path, capsys, monkeypatch
):
    """One runner batch pass: validate_table(persist=True) + record_run
    stay within a job budget, and the summary printed after the lineage
    append starts no job (it reads the rows record_run returned)."""

    sc = spark.sparkContext
    validate_table = plans.validate_table
    record_run = CheckpointStore.record_run
    record_profile = CheckpointStore.record_profile
    recorded = []
    profile_plans = []

    def validate(*args, **kwargs):
        sc.setJobGroup("validate-record", "job-budget probe")
        return validate_table(*args, **kwargs)

    def record(self, result, *, frontier):
        recorded.extend(record_run(self, result, frontier=frontier))
        sc.setJobGroup("after-append", "job-budget probe")
        return recorded

    def profile(self, states):
        profile_plans.append(states._jdf.queryExecution().executedPlan().toString())
        record_profile(self, states)
        # the profile-state write is the runner's last step before its
        # summary; every job after it belongs to the summary
        sc.setJobGroup("runner-summary", "job-budget probe")

    monkeypatch.setattr(plans, "validate_table", validate)
    monkeypatch.setattr(CheckpointStore, "record_run", record)
    monkeypatch.setattr(CheckpointStore, "record_profile", profile)
    try:
        rc = runner.main([
            "--clips", str(corpus / "clips"), "--manifest", str(corpus / "manifest"),
            "--checkpoint-dir", str(tmp_path / "ckpt"), "--no-audio",
        ])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert rc == 0
    tracker = sc.statusTracker()
    # drift edges, the stats pass, the violations write, one verdict
    # collect and the lineage append: 16 jobs on this corpus, where
    # per-rule histograms, pinned side aggregates and a lazy verdict
    # plan cost 33
    jobs = len(tracker.getJobIdsForGroup("validate-record"))
    assert jobs <= 18, jobs
    # the profile state rows come out of the stats pass: writing them is
    # the only job after the lineage append, and it reads no clip file
    assert len(tracker.getJobIdsForGroup("after-append")) <= 1
    assert len(profile_plans) == 1 and "Scan parquet" not in profile_plans[0]
    assert tracker.getJobIdsForGroup("runner-summary") == []

    out = json.loads(
        [line for line in capsys.readouterr().out.splitlines() if line.startswith("{")][-1]
    )
    # the returned rows are exactly what lineage received, and the
    # summary is theirs
    lineage = CheckpointStore(get_catalog(spark, str(tmp_path / "ckpt"))).lineage()
    assert sorted(map(tuple, recorded)) == sorted(map(tuple, lineage.collect()))
    assert out["partitions_validated"] == SPEC.partitions
    assert out["violations"] == sum(r["violation_count"] for r in recorded) > 0


def test_drift_rules_share_one_histogram_action(spark, corpus):
    clips = with_partition_cols(spark.read.parquet(str(corpus / "clips")))
    one = [DriftRule("dur_ms")]
    two = [DriftRule("dur_ms"), DriftRule("sr_hz", bins=10)]
    jobs_one, _ = _jobs(spark, "drift-one", lambda: compile_rules(clips, one))
    jobs_two, plan = _jobs(spark, "drift-two", lambda: compile_rules(clips, two))
    # compiling is the bin-edge min/max collect plus the one
    # partition-stats action; a second drift column rides in both
    # instead of adding a histogram
    assert jobs_two == jobs_one <= 4
    # scoring ran on the driver: the violations are projections of a
    # local relation and need no further scan
    assert "Scan parquet" not in plan.violations._jdf.queryExecution().executedPlan().toString()


def test_strict_ruleset_compiles_in_one_stats_pass(spark, corpus):
    """The strict ruleset's table-level families (aggregate fences,
    Benford, reconciliation, MAD medians) read the one partition-stats
    action, and categorical drift + entropy one collected count: compile
    runs the drift-edge collect, the stats pass and the categorical
    count, and the lazy violations plan scans the clip table only for the
    row projection, unique, FD, completeness, MAD stage 2 and seasonal
    (18 compile jobs and 10 clip scans when each family had its own
    groupBy)."""
    strict = Path(__file__).resolve().parents[1] / "rulesets/clips-strict.json"
    rules = [
        r
        for r in load_ruleset_document(str(strict))[0]
        if type(r).__name__ not in ("AudioDecodeRule", "AudioQcRule")
    ]
    clips = spark.read.parquet(str(corpus / "clips"))
    manifest = spark.read.parquet(str(corpus / "manifest"))
    jobs, result = _jobs(
        spark,
        "strict-compile",
        lambda: plans.validate_table(
            clips, rules, frontier=frontier_of(SPEC), manifest=manifest
        ),
    )
    assert jobs <= 6, jobs
    plan = result.violations._jdf.queryExecution().executedPlan().toString()
    clip_scans = re.findall(
        r"FileScan parquet [^\n]*" + re.escape(str(corpus / "clips")) + r"\]", plan
    )
    assert len(clip_scans) <= 6, plan
