"""Drift bin edges come from the validated table itself.

A DriftRule bins every partition on one equal-width grid over the
table's own [min, max] (one min/max collect at compile time). The
checkpoint may decide which partitions a run re-validates; it must not
change what a validation of the same table says.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_warm_pass_over_drifted_table_matches_fresh_checkpoint(spark, tmp_path, capsys):
    """Pass 1 validates table A; pass 2 re-validates B (A with one
    partition's dur_ms tripled, so the column max moves) into the SAME
    checkpoint; pass 3 validates B into a fresh checkpoint. Passes 2 and
    3 saw the same table, so they persist the same drift rows and the
    same verdicts."""
    from use_case_real_time_anomaly_detection_spark import runner
    from use_case_real_time_anomaly_detection_spark.sources.synth import (
        SynthSpec,
        generate_clips,
        generate_manifest,
    )
    from use_case_real_time_anomaly_detection_spark.sources.tables import get_catalog
    from use_case_real_time_anomaly_detection_spark.streaming.checkpoint import (
        CheckpointStore,
    )

    spec = SynthSpec(partitions=3, clips_per_partition=80)
    generate_clips(spark, spec).write.parquet(str(tmp_path / "a"))
    generate_manifest(spark, spec).write.parquet(str(tmp_path / "manifest"))
    a = spark.read.parquet(str(tmp_path / "a"))
    a.withColumn(
        "dur_ms",
        F.when(F.col("clip_id").startswith("c002"), F.col("dur_ms") * 3).otherwise(
            F.col("dur_ms")
        ),
    ).write.parquet(str(tmp_path / "b"))

    def go(table, ckpt, run_id):
        rc = runner.main([
            "--clips", str(tmp_path / table),
            "--manifest", str(tmp_path / "manifest"),
            "--checkpoint-dir", str(tmp_path / ckpt),
            "--no-audio", "--no-resume", "--master", "local[8]",
            "--run-id", run_id,
        ])
        capsys.readouterr()
        assert rc == 0
        store = CheckpointStore(get_catalog(spark, str(tmp_path / ckpt)))
        drift = {
            (r["partition_key"], r["detector"], r["observed"])
            for r in store.violations()
            .filter(F.col("detector").startswith("drift"))
            .collect()
        }
        verdicts = sorted(
            tuple(r)
            for r in store.lineage()
            .filter(F.col("run_id") == run_id)
            .drop("run_id")
            .collect()
        )
        return drift, verdicts

    go("a", "warm", "a")
    warm_drift, warm_verdicts = go("b", "warm", "b")
    cold_drift, cold_verdicts = go("b", "cold", "b")
    assert warm_drift  # the planted drift partition is flagged
    assert warm_drift == cold_drift
    assert warm_verdicts == cold_verdicts
