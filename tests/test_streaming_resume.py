"""Checkpoint/resume and streaming clip-validation contracts
(SURVEY.md §5.2.4)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from use_case_real_time_anomaly_detection_spark.plans.clips import validate_clips
from use_case_real_time_anomaly_detection_spark.sources.ingest import parse_events
from use_case_real_time_anomaly_detection_spark.sources.synth import (
    SynthSpec,
    frontier_of,
    generate_clips,
    generate_manifest,
)
from use_case_real_time_anomaly_detection_spark.sources.tables import ParquetCatalog
from use_case_real_time_anomaly_detection_spark.streaming.checkpoint import (
    CheckpointStore,
)

SPEC = SynthSpec(partitions=4, clips_per_partition=120)


def _write_ndjson(path: str, rows: list[dict]) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _resume_pass(clips, manifest, store, *, frontier, rules=None):
    """The runner's resume sequence: validate only the partitions not
    already complete for ``frontier``, then checkpoint."""
    done = store.completed_partitions(frontier)
    result = validate_clips(
        clips, manifest, frontier=frontier, rules=rules, skip_partitions=done
    )
    store.record_run(result, frontier=frontier)
    return result


def test_ndjson_ingest_schema_coercion(spark, tmp_path):
    # the reference's sample event: value arrives as a STRING
    # (config/sample_report.json:1) and the declared schema coerces it
    p = str(tmp_path / "events.ndjson")
    _write_ndjson(
        p,
        [
            {"timestamp": "2023-11-03T20:38:59.754", "id": 1, "value": "677.88"},
            {"timestamp": "2023-11-03T20:39:00.754", "id": "2", "value": 12.5},
            {"timestamp": "not-a-time", "id": "x", "value": "nan?"},
        ],
    )
    got = parse_events(spark.read.text(p)).orderBy("id").collect()
    assert [r["id"] for r in got] == [None, 1, 2]
    assert got[1]["value"] == pytest.approx(677.88, abs=1e-2)
    assert got[1]["ts"] is not None
    assert got[0]["ts"] is None  # malformed row survives as NULLs


def test_resume_skips_completed_partitions(spark, tmp_path):
    cat = ParquetCatalog(spark, str(tmp_path / "warehouse"))
    store = CheckpointStore(cat)
    clips = generate_clips(spark, SPEC)
    manifest = generate_manifest(spark, SPEC)
    fr = frontier_of(SPEC)

    r1 = _resume_pass(clips, manifest, store, frontier=fr)
    v1 = store.violations().count()
    assert v1 > 0
    n_parts_run1 = r1.verdicts.select("partition_key").distinct().count()
    assert n_parts_run1 == SPEC.partitions

    # second run: everything already complete → zero partitions validated
    r2 = _resume_pass(clips, manifest, store, frontier=fr)
    assert r2.verdicts.count() == 0
    # violations table unchanged (idempotent)
    assert store.violations().count() == v1

    # a HIGHER frontier invalidates completion → full re-run
    r3 = _resume_pass(clips, manifest, store, frontier=fr + 10)
    assert r3.verdicts.select("partition_key").distinct().count() == SPEC.partitions


def test_runner_cli_fresh_then_resume(spark, tmp_path, capsys):
    """runner.main(): fresh run validates everything and prints metrics;
    second run over the same checkpoint skips all completed partitions."""
    from use_case_real_time_anomaly_detection_spark import runner

    ckpt = str(tmp_path / "runner_ckpt")
    rc = runner.main(
        ["--synth", "4x120", "--checkpoint-dir", ckpt, "--run-id", "t1",
         "--no-audio"]
    )
    assert rc == 0
    out1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out1["partitions_validated"] == 4
    assert out1["clips_validated"] > 400
    assert out1["violations"] > 0
    assert out1["per_detector"]["out-of-range"] > 0

    rc = runner.main(
        ["--synth", "4x120", "--checkpoint-dir", ckpt, "--run-id", "t2",
         "--no-audio"]
    )
    assert rc == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["partitions_validated"] == 0  # resume: all complete
    assert out2["clips_validated"] == 0


def test_stream_same_partition_batches_accumulate_violations(spark, tmp_path):
    """Two micro-batches delivering clips for the SAME partition must
    ACCUMULATE violation evidence (violations_stream keyed (pk, batch)):
    batch 2's write may not erase batch 1's violations — the leak the
    per-pk overwrite layout would cause. An authoritative BATCH pass then
    supersedes: record_run clears the stream dirs for the partitions it
    validated, so violations() never double-represents them."""
    from pyspark.sql import functions as F

    from use_case_real_time_anomaly_detection_spark.plans.clips import default_rules
    from use_case_real_time_anomaly_detection_spark.sources.synth import (
        CLIPS_SCHEMA,
        SynthSpec,
        generate_clips,
        generate_manifest,
    )
    from use_case_real_time_anomaly_detection_spark.streaming.pipeline import (
        stream_clips_validation,
    )

    spec = SynthSpec(partitions=2, clips_per_partition=120)
    clips = generate_clips(spark, spec).cache()
    manifest = generate_manifest(spark, spec).cache()
    src = str(tmp_path / "clip_stream")
    ckpt = str(tmp_path / "clip_ckpt")
    store = CheckpointStore(ParquetCatalog(spark, str(tmp_path / "wh")))
    # clip_id = c{part:03d}-{seq:09d} (synth.py) → recover seq to split
    c000 = clips.filter(F.substring("clip_id", 1, 4) == "c000").withColumn(
        "seq", F.split("clip_id", "-").getItem(1).cast("int")
    )
    half = c000.approxQuantile("seq", [0.5], 0.0)[0]

    def run_wave():
        stream = spark.readStream.schema(CLIPS_SCHEMA).parquet(src)
        q = stream_clips_validation(
            stream, manifest, store,
            checkpoint_dir=ckpt, rules=default_rules(with_audio=False),
        )
        q.awaitTermination(300)

    # wave 1: first half of c000; wave 2: the rest of c000 (same pk)
    c000.filter(F.col("seq") <= half).drop("seq").write.mode("append").parquet(src)
    run_wave()
    v1 = {r["clip_id"] for r in store.violations().select("clip_id").collect()}
    assert v1, "wave 1 must produce violations"
    c000.filter(F.col("seq") > half).drop("seq").write.mode("append").parquet(src)
    run_wave()
    v2 = {r["clip_id"] for r in store.violations().select("clip_id").collect()}
    assert v1 <= v2, "batch 2 erased batch 1's violation evidence"
    assert len(v2) > len(v1), "wave 2's own violations must land too"

    # authoritative batch pass over the full partition supersedes the
    # stream accumulator: stream dirs cleared, union == batch snapshot
    _resume_pass(
        clips, manifest, store, frontier=frontier_of(spec),
        rules=default_rules(with_audio=False),
    )
    batch_only = store.catalog.read("violations").count()
    assert store.violations().count() == batch_only


def test_stream_clips_validation_two_waves(spark, tmp_path):
    """Streaming clip validation: two file-arrival waves drain through
    foreachBatch; each cycle's violations land partition-overwritten and
    the lineage table accumulates per-cycle verdict history. Wave 2 must
    process ONLY the new files (file-source checkpoint) yet the store
    retains wave-1 partitions' violations."""
    from pyspark.sql import functions as F

    from use_case_real_time_anomaly_detection_spark.plans.clips import default_rules
    from use_case_real_time_anomaly_detection_spark.sources.synth import (
        CLIPS_SCHEMA,
        SynthSpec,
        generate_clips,
        generate_manifest,
    )
    from use_case_real_time_anomaly_detection_spark.streaming.pipeline import (
        stream_clips_validation,
    )

    spec = SynthSpec(partitions=4, clips_per_partition=120)
    clips = generate_clips(spark, spec).cache()
    manifest = generate_manifest(spark, spec).cache()
    src = str(tmp_path / "clip_stream")
    ckpt = str(tmp_path / "clip_ckpt")
    cat = ParquetCatalog(spark, str(tmp_path / "clip_wh"))
    store = CheckpointStore(cat)

    def run_wave():
        stream = spark.readStream.schema(CLIPS_SCHEMA).parquet(src)
        q = stream_clips_validation(
            stream, manifest, store,
            checkpoint_dir=ckpt, rules=default_rules(with_audio=False),
            quarantine=True,
        )
        q.awaitTermination(300)

    # wave 1: partitions c000/c001
    clips.filter(F.substring("clip_id", 1, 4).isin("c000", "c001")).write.mode(
        "append"
    ).parquet(src)
    run_wave()
    v1 = store.violations()
    parts1 = {r["partition_key"] for r in v1.select("partition_key").distinct().collect()}
    assert parts1 == {"c000", "c001"}
    assert v1.count() > 0

    # wave 2: partitions c002/c003 arrive as new files
    clips.filter(F.substring("clip_id", 1, 4).isin("c002", "c003")).write.mode(
        "append"
    ).parquet(src)
    run_wave()
    v2 = store.violations()
    parts2 = {r["partition_key"] for r in v2.select("partition_key").distinct().collect()}
    assert parts2 == {"c000", "c001", "c002", "c003"}
    # wave-1 violations retained (partition overwrite, not truncate)
    assert v2.filter(F.col("partition_key") == "c000").count() == v1.filter(
        F.col("partition_key") == "c000"
    ).count()
    # lineage: one verdict row per (cycle, partition, detector)
    lin = store.lineage()
    assert {r["run_id"] for r in lin.select("run_id").distinct().collect()} >= {
        "stream-0"
    }
    # quarantine table maintained per micro-batch, same idempotence
    # contract: wave-2 adds its partitions without touching wave-1 rows,
    # and every quarantined clip is backed by a clip-level violation
    quar = cat.read("quarantine_stream")
    qparts = {r["partition_key"] for r in quar.select("partition_key").distinct().collect()}
    assert qparts == {"c000", "c001", "c002", "c003"}
    v_ids = {
        r["clip_id"]
        for r in v2.filter(
            F.col("clip_id").isNotNull() & (F.col("detector") != "timeout")
        ).collect()
    }
    q_ids = {r["clip_id"] for r in quar.collect()}
    assert q_ids == v_ids
    clips.unpersist()
    manifest.unpersist()


def test_stream_quarantine_accumulates_across_batches(spark, tmp_path):
    """A partition whose clips arrive across MULTIPLE micro-batches (the
    normal streaming case) must keep every batch's quarantine evidence:
    the write is keyed by (partition_key, batch_id), so a later batch for
    the same partition cannot erase clips quarantined by earlier batches
    — which would leak them past the downstream clean-corpus anti-join."""
    from pyspark.sql import functions as F

    from use_case_real_time_anomaly_detection_spark.plans.clips import default_rules
    from use_case_real_time_anomaly_detection_spark.sources.synth import (
        CLIPS_SCHEMA,
        SynthSpec,
        generate_clips,
        generate_manifest,
    )
    from use_case_real_time_anomaly_detection_spark.streaming.pipeline import (
        stream_clips_validation,
    )

    spec = SynthSpec(partitions=2, clips_per_partition=120)
    clips = generate_clips(spark, spec).cache()
    manifest = generate_manifest(spark, spec).cache()
    src = str(tmp_path / "acc_stream")
    ckpt = str(tmp_path / "acc_ckpt")
    cat = ParquetCatalog(spark, str(tmp_path / "acc_wh"))
    store = CheckpointStore(cat)

    def run_wave():
        stream = spark.readStream.schema(CLIPS_SCHEMA).parquet(src)
        q = stream_clips_validation(
            stream, manifest, store,
            checkpoint_dir=ckpt, rules=default_rules(with_audio=False),
            quarantine=True,
        )
        q.awaitTermination(300)

    # SAME partitions, split by sequence (clip_id carries the seq):
    # first half then second half
    seq = F.substring("clip_id", 6, 9).cast("long")
    clips.filter(seq < 60).write.mode("append").parquet(src)
    run_wave()
    q1 = {(r["partition_key"], r["clip_id"]) for r in store.quarantine().collect()}
    assert q1  # wave 1 quarantined something

    clips.filter(seq >= 60).write.mode("append").parquet(src)
    run_wave()
    q2 = {(r["partition_key"], r["clip_id"]) for r in store.quarantine().collect()}
    # wave-1 evidence survives wave 2's writes for the same partitions
    assert q1 <= q2
    clips.unpersist()
    manifest.unpersist()


def test_runner_cli_stream_mode(spark, tmp_path, capsys):
    """runner.main(--stream): drains landed clip files through the
    streaming validation path and prints the stream summary."""
    from use_case_real_time_anomaly_detection_spark import runner
    from use_case_real_time_anomaly_detection_spark.sources.synth import (
        SynthSpec,
        generate_clips,
        generate_manifest,
    )

    spec = SynthSpec(partitions=2, clips_per_partition=80)
    src = str(tmp_path / "rs_src")
    man = str(tmp_path / "rs_man")
    generate_clips(spark, spec).write.mode("append").parquet(src)
    generate_manifest(spark, spec).write.parquet(man)

    rc = runner.main(
        ["--stream", src, "--manifest", man,
         "--checkpoint-dir", str(tmp_path / "rs_ckpt"), "--no-audio"]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["mode"] == "stream"
    assert out["cycles"] >= 1
    assert out["partitions_validated"] == 2
    assert out["violations"] > 0


def test_runner_cli_stream_drift_gate(spark, tmp_path, capsys):
    """runner.main(--stream --stream-drift): the accumulated-state drift
    gate flags exactly the planted dur_ms-drift partition and the summary
    reports it; the profile accumulator is queryable afterwards."""
    from use_case_real_time_anomaly_detection_spark import runner
    from use_case_real_time_anomaly_detection_spark.sources.synth import (
        SynthSpec,
        generate_clips,
        generate_manifest,
    )
    from use_case_real_time_anomaly_detection_spark.sources.tables import (
        get_catalog,
    )
    from use_case_real_time_anomaly_detection_spark.streaming.checkpoint import (
        CheckpointStore,
    )

    spec = SynthSpec(partitions=4, clips_per_partition=120)
    src = str(tmp_path / "rd_src")
    man = str(tmp_path / "rd_man")
    ckpt = str(tmp_path / "rd_ckpt")
    generate_clips(spark, spec).write.mode("append").parquet(src)
    generate_manifest(spark, spec).write.parquet(man)

    rc = runner.main(
        ["--stream", src, "--manifest", man, "--checkpoint-dir", ckpt,
         "--no-audio", "--stream-drift", "dur_ms:0.25"]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["drift_flagged_latest_batch"] == ["c001"]
    store = CheckpointStore(get_catalog(spark, ckpt))
    st = store.streamed_profile_states()
    assert st.count() == 4
    assert {r["partition_key"] for r in st.select("partition_key").collect()} == {
        "c000", "c001", "c002", "c003"
    }


def test_stream_exclusion_windows(spark, tmp_path):
    """Streaming exemption contract == batch: with a window covering
    partition c000's whole seq axis, no row-level c000 violation lands
    in any micro-batch, while the other partition's evidence and the
    partition-level detectors are untouched."""
    from pyspark.sql import functions as F

    from use_case_real_time_anomaly_detection_spark.plans.clips import default_rules
    from use_case_real_time_anomaly_detection_spark.sources.synth import (
        CLIPS_SCHEMA,
        SynthSpec,
        generate_clips,
        generate_manifest,
    )
    from use_case_real_time_anomaly_detection_spark.streaming.pipeline import (
        stream_clips_validation,
    )

    spec = SynthSpec(partitions=2, clips_per_partition=120)
    clips = generate_clips(spark, spec).cache()
    manifest = generate_manifest(spark, spec).cache()
    src = str(tmp_path / "clip_stream")
    ckpt = str(tmp_path / "clip_ckpt")
    store = CheckpointStore(ParquetCatalog(spark, str(tmp_path / "wh")))
    windows = spark.createDataFrame(
        [("c000", 0, 10_000)],
        "partition_key string, start_seq long, end_seq long",
    )

    clips.write.mode("append").parquet(src)
    stream = spark.readStream.schema(CLIPS_SCHEMA).parquet(src)
    q = stream_clips_validation(
        stream, manifest, store,
        checkpoint_dir=ckpt, rules=default_rules(with_audio=False),
        exclusion_windows=windows,
    )
    q.awaitTermination(300)

    v = store.violations()
    row_level = ~F.col("detector").isin(
        "timeout", "unique", "drift-dur_ms", "drift-sr_hz"
    )
    assert v.filter((F.col("partition_key") == "c000") & row_level).count() == 0
    assert v.filter(F.col("partition_key") == "c001").count() > 0
