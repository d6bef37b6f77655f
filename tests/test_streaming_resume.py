"""Streaming copy-cycle + checkpoint/resume contracts (SURVEY.md §5.2.4)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from use_case_real_time_anomaly_detection_spark.plans import detectors as D
from use_case_real_time_anomaly_detection_spark.sources.ingest import (
    read_ndjson_batch,
    read_ndjson_stream,
)
from use_case_real_time_anomaly_detection_spark.sources.synth import (
    SynthSpec,
    frontier_of,
    generate_clips,
    generate_manifest,
)
from use_case_real_time_anomaly_detection_spark.sources.tables import ParquetCatalog
from use_case_real_time_anomaly_detection_spark.streaming.checkpoint import (
    CheckpointStore,
    run_with_resume,
)
from use_case_real_time_anomaly_detection_spark.streaming.pipeline import stream_violations

SPEC = SynthSpec(partitions=4, clips_per_partition=120)


def _write_ndjson(path: str, rows: list[dict]) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


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
    got = read_ndjson_batch(spark, p).orderBy("id").collect()
    assert [r["id"] for r in got] == [None, 1, 2]
    assert got[1]["value"] == pytest.approx(677.88, abs=1e-2)
    assert got[1]["ts"] is not None
    assert got[0]["ts"] is None  # malformed row survives as NULLs


def test_streaming_copy_cycle_matches_batch(spark, tmp_path):
    """foreachBatch cycle output == batch violations_log on same data."""
    src = tmp_path / "stream_in"
    src.mkdir()
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    rows = [
        {
            "timestamp": r["ts"].isoformat(),
            "id": int(r["user_id"]),
            "value": str(r["value"]),
        }
        for r in ev.limit(2000).collect()
    ]
    _write_ndjson(str(src / "batch0.ndjson"), rows)

    collected = []

    def sink(df):
        collected.extend(df.collect())

    stream = read_ndjson_stream(spark, str(src))
    q = stream_violations(
        stream,
        sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    assert len(collected) > 0
    types = {r["anomaly_type"] for r in collected}
    assert types <= {
        "out-of-range", "rate-of-change", "timeout", "z-score", "interquartile-range",
    }


def test_resume_skips_completed_partitions(spark, tmp_path):
    cat = ParquetCatalog(spark, str(tmp_path / "warehouse"))
    store = CheckpointStore(cat)
    clips = generate_clips(spark, SPEC)
    manifest = generate_manifest(spark, SPEC)
    fr = frontier_of(SPEC)

    r1 = run_with_resume(spark, clips, manifest, store, frontier=fr)
    v1 = store.violations().count()
    assert v1 > 0
    n_parts_run1 = r1.verdicts.select("partition_key").distinct().count()
    assert n_parts_run1 == SPEC.partitions

    # second run: everything already complete → zero partitions validated
    r2 = run_with_resume(spark, clips, manifest, store, frontier=fr)
    assert r2.verdicts.count() == 0
    # violations table unchanged (idempotent)
    assert store.violations().count() == v1

    # a HIGHER frontier invalidates completion → full re-run
    r3 = run_with_resume(spark, clips, manifest, store, frontier=fr + 10)
    assert r3.verdicts.select("partition_key").distinct().count() == SPEC.partitions


# ---------------------------------------------------------------------------
# stateful streaming: running z-score via applyInPandasWithState
# ---------------------------------------------------------------------------


def _zscore_oracle(rows, threshold, min_periods):
    """Pandas/python Welford over the full ordered stream — what the
    streaming operator must equal regardless of micro-batch splits."""
    import math

    state = {}
    flagged = []
    for r in sorted(rows, key=lambda r: (r["id"], r["ts"])):
        cnt, mean, m2 = state.get(r["id"], (0, 0.0, 0.0))
        v = float(r["value"])
        if cnt >= min_periods:
            var = m2 / cnt
            if var > 0:
                z = (v - mean) / math.sqrt(var)
                if abs(z) > threshold:
                    flagged.append((r["id"], r["ts"], round(z, 4)))
        cnt += 1
        d = v - mean
        mean += d / cnt
        m2 += d * (v - mean)
        state[r["id"]] = (cnt, mean, m2)
    return set(flagged)


def test_running_zscore_stateful_stream(spark, tmp_path):
    """Two stream restarts over a checkpoint == one pandas pass: state
    survives in the state store, flags are batch-boundary-independent."""
    import random

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from use_case_real_time_anomaly_detection_spark.streaming.stateful import (
        running_zscore_stream,
    )

    rng = random.Random(7)
    rows = []
    t0 = 1700000000
    for i in range(400):
        for sensor in (1, 2):
            v = rng.gauss(100.0 if sensor == 1 else 50.0, 2.0)
            if i in (250, 300) and sensor == 1:
                v += 40.0  # injected spikes MUST flag
            rows.append(
                {
                    "id": sensor,
                    "ts": f"2023-11-20T00:00:{0:02d}.{i:06d}",
                    "ts_epoch": t0 + i,
                    "value": round(v, 3),
                }
            )
    # distinct second-resolution timestamps: encode i into seconds
    for r in rows:
        i = int(r["ts"][-6:])
        r["ts"] = (
            f"2023-11-{20 + i // 86400:02d}T"
            f"{(i % 86400) // 3600:02d}:{(i % 3600) // 60:02d}:{i % 60:02d}"
        )

    src = tmp_path / "zs_in"
    src.mkdir()
    ckpt = str(tmp_path / "zs_ckpt")
    out_dir = str(tmp_path / "zs_out")

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("ts", StringType()),
            StructField("value", StringType()),
        ]
    )

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .json(str(src))
            .selectExpr(
                "id", "to_timestamp(ts) AS ts", "try_cast(value AS double) AS value"
            )
        )
        q = (
            running_zscore_stream(stream, threshold=4.0, min_periods=50)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    half = len(rows) // 2
    _write_ndjson(str(src / "a.ndjson"), rows[:half])
    run_once()
    _write_ndjson(str(src / "b.ndjson"), rows[half:])
    run_once()  # state restored from checkpoint, continues the prefix

    got = {
        (r["id"], r["ts"].isoformat(sep=" "), r["zscore"])
        for r in spark.read.parquet(out_dir).collect()
    }
    parsed = [
        {"id": r["id"], "ts": r["ts"].replace("T", " "), "value": r["value"]}
        for r in rows
    ]
    expected = _zscore_oracle(parsed, threshold=4.0, min_periods=50)
    assert {(i, t, z) for (i, t, z) in got} == expected
    # the injected spikes are among the flags
    assert any(z > 4.0 for (_, _, z) in got)


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


def test_running_zscore_multichunk_out_of_order(spark, tmp_path):
    """A large group arrives as MULTIPLE Arrow chunks, in no guaranteed
    order (here: written newest-first, 64-row chunks). Flags must still
    equal the ordered pandas oracle — the operator concatenates the
    chunk iterator and sorts once, not per-chunk."""
    import random

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from use_case_real_time_anomaly_detection_spark.streaming.stateful import (
        running_zscore_stream,
    )

    rng = random.Random(11)
    rows = []
    for i in range(600):
        v = rng.gauss(10.0, 1.0)
        if i in (400, 500):
            v += 20.0
        rows.append(
            {
                "id": 1,
                "ts": f"2023-11-{20 + i // 86400:02d}T"
                f"{(i % 86400) // 3600:02d}:{(i % 3600) // 60:02d}:{i % 60:02d}",
                "value": round(v, 3),
            }
        )

    src = tmp_path / "mc_in"
    src.mkdir()
    _write_ndjson(str(src / "a.ndjson"), rows[::-1])  # newest-first on disk

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("ts", StringType()),
            StructField("value", StringType()),
        ]
    )
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        stream = (
            spark.readStream.schema(schema)
            .json(str(src))
            .selectExpr(
                "id", "to_timestamp(ts) AS ts", "try_cast(value AS double) AS value"
            )
        )
        out_dir = str(tmp_path / "mc_out")
        q = (
            running_zscore_stream(stream, threshold=4.0, min_periods=50)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "mc_ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = {
            (r["id"], r["ts"].isoformat(sep=" "), r["zscore"])
            for r in spark.read.parquet(out_dir).collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "256")

    parsed = [
        {"id": r["id"], "ts": r["ts"].replace("T", " "), "value": r["value"]}
        for r in rows
    ]
    expected = _zscore_oracle(parsed, threshold=4.0, min_periods=50)
    assert got == expected
    assert len(got) >= 2  # both injected spikes flagged


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
    run_with_resume(
        spark, clips, manifest, store, frontier=frontier_of(spec),
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


def test_stream_dedup_log_watermark_two_waves(spark, tmp_path):
    """Native streaming late-data dedup (≙ ST3 + dedup_log.pipe:4-6 +
    the 61 s overlap contract of content/copies-pipes.md:44): an
    at-least-once log stream flows through withWatermark + dropDuplicates
    into an exactly-once sink. Two file-arrival waves: wave 2 REDELIVERS
    wave-1 rows (late duplicates, inside the watermark — the overlap
    case) and adds new rows; duplicates are suppressed across waves via
    the checkpointed dedup state, and a row older than the watermark
    horizon is dropped (the state bound is real, not cosmetic)."""
    import json as _json

    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from use_case_real_time_anomaly_detection_spark.streaming.pipeline import (
        stream_dedup_log,
    )

    src = tmp_path / "log_src"
    src.mkdir()
    out = str(tmp_path / "log_out")
    ckpt = str(tmp_path / "log_ckpt")
    schema = StructType(
        [
            StructField("ts", StringType()),
            StructField("id", IntegerType()),
            StructField("anomaly_type", StringType()),
            StructField("note", StringType()),
        ]
    )

    def write_wave(name, rows):
        (src / name).write_text(
            "\n".join(_json.dumps(r) for r in rows) + "\n"
        )

    def run_wave():
        stream = (
            spark.readStream.schema(schema)
            .json(str(src))
            .selectExpr(
                "to_timestamp(ts) AS ts", "id", "anomaly_type", "note"
            )
        )
        q = stream_dedup_log(stream, out, checkpoint_dir=ckpt)
        q.awaitTermination(300)

    base = "2024-01-01 12:{m:02d}:{s:02d}"
    r = lambda m, s, i, t: {
        "ts": base.format(m=m, s=s), "id": i, "anomaly_type": t, "note": "n",
    }
    # wave 1: 4 distinct keys, one duplicated IN-wave (at-least-once copy)
    wave1 = [
        r(10, 0, 1, "out-of-range"),
        r(10, 0, 1, "out-of-range"),   # in-wave duplicate
        r(10, 30, 2, "z-score"),
        r(10, 45, 1, "timeout"),
        r(11, 0, 3, "out-of-range"),   # max ts → watermark 12:09:59
    ]
    write_wave("w1.json", wave1)
    run_wave()
    got1 = spark.read.parquet(out)
    assert got1.count() == 4  # in-wave duplicate dropped
    # wave 2: redeliver two wave-1 rows (late, but inside the 61 s
    # overlap), one new row, and one row OLDER than the watermark horizon
    wave2 = [
        r(10, 30, 2, "z-score"),       # overlap redelivery → dropped
        r(11, 0, 3, "out-of-range"),   # overlap redelivery → dropped
        r(11, 10, 4, "iqr"),           # new → kept
        r(8, 0, 9, "z-score"),         # beyond watermark → dropped
    ]
    write_wave("w2.json", wave2)
    run_wave()
    got2 = spark.read.parquet(out)
    keys = {
        (r2["ts"].isoformat(), r2["id"], r2["anomaly_type"])
        for r2 in got2.collect()
    }
    assert got2.count() == 5  # 4 wave-1 keys + exactly one new key
    assert ("2024-01-01T12:11:10", 4, "iqr") in keys
    assert all(k[1] != 9 for k in keys)  # too-late row evicted by watermark


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
