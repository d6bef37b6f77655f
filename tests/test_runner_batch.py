"""runner.main() batch-mode integration: the --clips path over a
layout-written table (hive partition columns reorder/append columns —
the schema gate must accept that shape), plus the --diff-runs gate."""

import json

import pytest


def _run(capsys, argv):
    from use_case_real_time_anomaly_detection_spark import runner

    rc = runner.main(argv)
    out = capsys.readouterr().out
    lines = [l for l in out.splitlines() if l.startswith("{")]
    return rc, (json.loads(lines[-1]) if lines else None)


def test_runner_clips_path_over_partitioned_layout(spark, tmp_path, capsys):
    from use_case_real_time_anomaly_detection_spark.sources.synth import (
        SynthSpec,
        generate_clips,
        generate_manifest,
    )
    from use_case_real_time_anomaly_detection_spark.sources.tables import (
        ParquetCatalog,
        write_clips_layout,
    )

    spec = SynthSpec(partitions=3, clips_per_partition=80)
    cat = ParquetCatalog(spark, str(tmp_path))
    # codec becomes a hive partition column (moves last), id_bucket is an
    # extra layout column — the pre-flight schema gate must accept both
    write_clips_layout(generate_clips(spark, spec), cat, name="clips")
    generate_manifest(spark, spec).write.parquet(str(tmp_path / "manifest"))

    rc, out = _run(capsys, [
        "--clips", str(tmp_path / "clips"),
        "--manifest", str(tmp_path / "manifest"),
        "--checkpoint-dir", str(tmp_path / "ckpt"),
        "--no-audio", "--quarantine", "--master", "local[8]",
    ])
    assert rc == 0
    assert out["partitions_validated"] == 3
    assert out["violations"] > 0
    # quarantine table written under the checkpoint catalog
    quar = spark.read.parquet(str(tmp_path / "ckpt" / "quarantine"))
    assert quar.count() > 0

    # a table that VIOLATES the contract aborts before any job
    bad = generate_clips(spark, spec).withColumnRenamed("dur_ms", "duration")
    bad.write.parquet(str(tmp_path / "bad_clips"))
    from use_case_real_time_anomaly_detection_spark.operators.schema import (
        SchemaMismatch,
    )

    with pytest.raises(SchemaMismatch, match="missing column 'dur_ms'"):
        _run(capsys, [
            "--clips", str(tmp_path / "bad_clips"),
            "--manifest", str(tmp_path / "manifest"),
            "--checkpoint-dir", str(tmp_path / "ckpt2"),
            "--no-audio", "--master", "local[8]",
        ])


def test_runner_quarantine_clears_now_clean_partitions(spark, tmp_path, capsys):
    """A re-validation whose violations all cleared must also CLEAR the
    partition's stale quarantine rows: dynamic partition overwrite only
    replaces partitions present in the output, so clean partitions emit a
    NULL-clip_id marker row (reindex_quarantine) — otherwise once-bad
    clips would be excluded from the clean corpus forever."""
    import json as _json

    from pyspark.sql import functions as F

    base = [
        "--synth", "4x120", "--no-audio", "--no-resume", "--quarantine",
        "--checkpoint-dir", str(tmp_path / "ckpt"), "--master", "local[8]",
    ]
    rc, out = _run(capsys, base)
    assert rc == 0 and out["violations"] > 0
    quar = spark.read.parquet(str(tmp_path / "ckpt" / "quarantine"))
    assert quar.filter(F.col("clip_id").isNotNull()).count() > 0

    # second run: a rule set nothing violates → zero quarantine rows for
    # every partition; the overwrite must still TOUCH all 4 partitions
    lenient = {"rules": [{"type": "range", "column": "dur_ms",
                          "min_value": -1e18, "max_value": 1e18}]}
    rules_path = tmp_path / "lenient.json"
    rules_path.write_text(_json.dumps(lenient))
    rc, out = _run(capsys, base + ["--rules", str(rules_path)])
    assert rc == 0 and out["violations"] == 0

    quar2 = spark.read.parquet(str(tmp_path / "ckpt" / "quarantine"))
    # every validated partition was re-indexed: only marker rows remain
    assert quar2.filter(F.col("clip_id").isNotNull()).count() == 0
    parts = {r["partition_key"] for r in
             quar2.select("partition_key").distinct().collect()}
    assert len(parts) == 4
    # the read helper hides the markers
    from use_case_real_time_anomaly_detection_spark.sources.tables import (
        ParquetCatalog,
    )
    from use_case_real_time_anomaly_detection_spark.streaming.checkpoint import (
        CheckpointStore,
    )

    store = CheckpointStore(ParquetCatalog(spark, str(tmp_path / "ckpt")))
    assert store.quarantine().count() == 0


def test_runner_diff_runs_gate(spark, tmp_path, capsys):
    """--diff-runs: rc 0 when no regressions, rc 1 with new-failure rows
    (frontier 75 keeps the stopped partition un-stale in the early run),
    rc 2 on unknown run ids."""
    base = [
        "--synth", "4x120", "--no-audio", "--no-resume",
        "--checkpoint-dir", str(tmp_path / "ckpt"), "--master", "local[8]",
    ]
    rc, _ = _run(capsys, base + ["--run-id", "early", "--frontier", "75"])
    assert rc == 0
    rc, _ = _run(capsys, base + ["--run-id", "late"])
    assert rc == 0

    rc, out = _run(capsys, [
        "--diff-runs", "early,late",
        "--checkpoint-dir", str(tmp_path / "ckpt"), "--master", "local[8]",
    ])
    assert rc == 1  # the promotion gate trips
    assert out["by_status"]["new-failure"] == 1
    assert out["new_failures"][0]["detector"] == "timeout"

    rc, _ = _run(capsys, [
        "--diff-runs", "late,late",
        "--checkpoint-dir", str(tmp_path / "ckpt"), "--master", "local[8]",
    ])
    assert rc == 0  # identical runs: nothing new fails

    rc, _ = _run(capsys, [
        "--diff-runs", "nope,late",
        "--checkpoint-dir", str(tmp_path / "ckpt"), "--master", "local[8]",
    ])
    assert rc == 2


def test_diff_runs_gates_added_failing_and_dedups_reused_run_id(
    spark, tmp_path, capsys
):
    """(a) a failing (partition, detector) present only in the CURRENT run
    (added-failing — e.g. a resumed run re-validated a subset) must trip
    the exit-1 gate like new-failure; (b) a reused --run-id appends
    duplicate lineage rows — the diff dedups to one row per
    (partition, detector), latest completed_at_seq wins, so statuses are
    not double-counted."""
    ck = str(tmp_path / "ckpt")
    base = ["--synth", "4x120", "--no-audio", "--no-resume",
            "--checkpoint-dir", ck, "--master", "local[8]"]
    # 'early' at frontier 75: everything passes except in-partition rows;
    # then drop one partition's verdicts from 'early' by re-recording it
    rc, _ = _run(capsys, base + ["--run-id", "early", "--frontier", "75"])
    assert rc == 0
    # 'late' run reused TWICE at different frontiers → duplicate
    # (partition, detector) lineage rows under one run_id; the second
    # (frontier 119 = max seq) has the timeout failure
    rc, _ = _run(capsys, base + ["--run-id", "late", "--frontier", "75"])
    assert rc == 0
    rc, _ = _run(capsys, base + ["--run-id", "late"])
    assert rc == 0

    rc, out = _run(capsys, [
        "--diff-runs", "early,late", "--checkpoint-dir", ck,
        "--master", "local[8]",
    ])
    # dedup: latest completed_at_seq wins → the timeout new-failure is
    # seen exactly once (no fan-out doubling)
    assert rc == 1
    assert out["by_status"]["new-failure"] == 1
    assert out["by_status"].get("removed") is None
    total = sum(out["by_status"].values())
    lin = spark.read.parquet(f"{ck}/lineage")
    n_pairs = (lin.select("partition_key", "detector").distinct().count())
    assert total == n_pairs  # one diff row per (partition, detector)

    # added-failing: fabricate a 'cur2' run covering an EXTRA partition
    # that fails, absent from 'early' — the gate must trip
    from pyspark.sql import functions as F

    cur = lin.filter(F.col("run_id") == "late")
    extra = cur.limit(1).select(
        F.lit("p-new").alias("partition_key"),
        F.col("detector"),
        F.lit(False).alias("pass"),
        F.lit(7).cast("long").alias("violation_count"),
        F.lit(100).cast("long").alias("rows_checked"),
        F.lit("cur2").alias("run_id"),
        F.col("completed_at_seq"),
    )
    fixed = cur.withColumn(  # same verdicts, everything passing
        "pass", F.lit(True)
    ).withColumn("run_id", F.lit("cur2"))
    fixed.unionByName(extra).write.mode("append").parquet(f"{ck}/lineage")

    rc, out = _run(capsys, [
        "--diff-runs", "early,cur2", "--checkpoint-dir", ck,
        "--master", "local[8]",
    ])
    assert rc == 1
    assert out["by_status"]["added-failing"] == 1
    assert any(r["status"] == "added-failing" and r["partition_key"] == "p-new"
               for r in out["new_failures"])


def test_runner_trend_gate(spark, tmp_path, capsys):
    """--trend: rc 1 only when a series is anomalous at its LATEST run
    (the page condition); historical flags that later recovered are
    reported in total_flags but do not trip the gate; malformed
    parameter → rc 2."""
    from pyspark.sql import functions as F

    from use_case_real_time_anomaly_detection_spark.sources.tables import (
        get_catalog,
    )

    ckpt = str(tmp_path / "ckpt")
    cat = get_catalog(spark, ckpt)
    schema = (
        "partition_key string, detector string, run_id string, "
        "completed_at_seq long, violation_count long, rows_checked long"
    )

    def append(series):
        rows = []
        for (pk, det), counts in series.items():
            for i, vc in enumerate(counts):
                rows.append((pk, det, f"r{i:02d}", 1000 + i, vc, 1000))
        cat.append(spark.createDataFrame(rows, schema), "lineage")

    # p0: clean alternation then a spike at the LATEST run → current flag
    # p1: step at run 3, recovered after → historical flag only
    append({
        ("p0", "out-of-range"): [3, 4, 3, 4, 3, 4, 3, 40],
        ("p1", "z-score"): [0, 0, 0, 9, 0, 0, 0, 0],
    })
    rc, out = _run(capsys, [
        "--trend", "--checkpoint-dir", ckpt, "--master", "local[8]",
    ])
    assert rc == 1
    assert out["total_flags"] >= 2  # the spike + the historical step
    assert [(f["partition_key"], f["kind"]) for f in out["current_flags"]] == [
        ("p0", "zscore")
    ]

    # p0 recovers in a later run → nothing anomalous NOW, gate opens
    cat.append(
        spark.createDataFrame(
            [("p0", "out-of-range", "r08", 1008, 4, 1000)], schema
        ),
        "lineage",
    )
    rc, out = _run(capsys, [
        "--trend", "--checkpoint-dir", ckpt, "--master", "local[8]",
    ])
    assert rc == 0
    assert out["current_flags"] == [] and out["total_flags"] >= 2

    rc, _ = _run(capsys, [
        "--trend", "nope", "--checkpoint-dir", ckpt, "--master", "local[8]",
    ])
    assert rc == 2


def test_runner_sample_mode(spark, tmp_path, capsys):
    """--sample: the smoke pre-gate validates a deterministic hash
    subset — rows_checked shrinks accordingly, two invocations select
    the IDENTICAL subset (reproducibility is the point vs rand()), and
    an out-of-range fraction is rejected before any job."""
    from pyspark.sql import functions as F

    from use_case_real_time_anomaly_detection_spark.sources.tables import (
        get_catalog,
    )

    base = [
        "--synth", "4x120", "--no-audio", "--no-resume",
        "--master", "local[8]",
    ]
    full_ckpt = str(tmp_path / "full")
    rc, _ = _run(capsys, base + ["--checkpoint-dir", full_ckpt, "--run-id", "full"])
    assert rc == 0

    s_ckpt = str(tmp_path / "sampled")
    rc, _ = _run(capsys, base + [
        "--checkpoint-dir", s_ckpt, "--run-id", "s1", "--sample", "0.3",
    ])
    assert rc == 0
    rc, _ = _run(capsys, base + [
        "--checkpoint-dir", s_ckpt, "--run-id", "s2", "--sample", "0.3",
    ])
    assert rc == 0

    lin = get_catalog(spark, s_ckpt).read("lineage")
    full_lin = get_catalog(spark, full_ckpt).read("lineage")

    def checked(df, rid):
        return {
            (r["partition_key"], r["detector"]): r["rows_checked"]
            for r in df.filter(F.col("run_id") == rid).collect()
        }

    s1, s2, full = checked(lin, "s1"), checked(lin, "s2"), checked(full_lin, "full")
    assert s1 == s2  # deterministic subset → identical verdict rows
    row_level = [k for k, v in full.items() if v > 0]
    assert row_level
    for k in row_level:
        assert 0 < s1[k] < full[k]  # a real, strict subset

    # NON-AUTHORITATIVE contract: smoke verdicts carry completed_at_seq
    # -1, never satisfy resume, and write no other store table — a later
    # full run (resume ON) still validates every partition
    assert {
        r["completed_at_seq"]
        for r in lin.filter(F.col("run_id").isin("s1", "s2")).collect()
    } == {-1}
    import os

    assert not os.path.exists(f"{s_ckpt}/violations")
    assert not os.path.exists(f"{s_ckpt}/profile_state")
    rc, out = _run(capsys, [
        "--synth", "4x120", "--no-audio", "--master", "local[8]",
        "--checkpoint-dir", s_ckpt, "--run-id", "full-after",
    ])
    assert rc == 0 and out["partitions_validated"] == 4

    rc, _ = _run(capsys, base + [
        "--checkpoint-dir", str(tmp_path / "bad"), "--sample", "1.5",
    ])
    assert rc == 2

    # a --clips table without --frontier: the usage error still comes
    # before the frontier collect (or any other Spark job)
    import pyarrow as pa
    import pyarrow.parquet as pq

    from use_case_real_time_anomaly_detection_spark.sources.synth import (
        SynthSpec,
        manifest_pandas,
        metadata_pandas,
    )

    spec = SynthSpec(partitions=2, clips_per_partition=10)
    for name, frame in (
        ("clips", metadata_pandas(spec).assign(bytes=b"")),
        ("manifest", manifest_pandas(spec)),
    ):
        (tmp_path / name).mkdir()
        pq.write_table(
            pa.Table.from_pandas(frame, preserve_index=False),
            str(tmp_path / name / "part-0.parquet"),
        )
    sc = spark.sparkContext
    sc.setJobGroup("bad-sample", "usage-error probe")
    try:
        rc, _ = _run(capsys, [
            "--clips", str(tmp_path / "clips"),
            "--manifest", str(tmp_path / "manifest"),
            "--checkpoint-dir", str(tmp_path / "bad-clips"),
            "--no-audio", "--sample", "1.5",
        ])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert rc == 2
    assert sc.statusTracker().getJobIdsForGroup("bad-sample") == []


def test_runner_compact_maintenance(spark, tmp_path, capsys):
    """--compact: the append-only lineage history (one file per run)
    is bin-packed after the run; verdict content and resumability are
    untouched."""
    import glob

    from pyspark.sql import functions as F

    from use_case_real_time_anomaly_detection_spark.sources.tables import (
        get_catalog,
    )

    ckpt = str(tmp_path / "ck")
    base = [
        "--synth", "3x100", "--no-audio", "--no-resume",
        "--master", "local[8]", "--checkpoint-dir", ckpt,
    ]
    for rid in ("r1", "r2", "r3"):
        rc, _ = _run(capsys, base + ["--run-id", rid])
        assert rc == 0
    files_before = len(glob.glob(f"{ckpt}/lineage/part-*.parquet"))
    assert files_before >= 3

    lineage_before = sorted(
        map(tuple, get_catalog(spark, ckpt).read("lineage").collect())
    )
    rc, out = _run(capsys, base + ["--run-id", "r4", "--compact"])
    assert rc == 0
    assert out["compaction"]["lineage"]["files_before"] >= 4

    files_after = len(glob.glob(f"{ckpt}/lineage/part-*.parquet"))
    assert files_after < files_before

    lineage_after = get_catalog(spark, ckpt).read("lineage")
    # all four runs' verdicts survive the rewrite byte-for-byte
    kept = sorted(
        map(tuple, lineage_after.filter(F.col("run_id") != "r4").collect())
    )
    assert kept == lineage_before


def test_runner_exclusion_windows(spark, tmp_path, capsys):
    """--exclusion-windows: the run with a window covering a planted
    violation emits fewer violations than the bare run, and the
    windowed partition's row-level verdicts flip to pass when every
    one of its violations is covered."""
    from pyspark.sql import functions as F

    from use_case_real_time_anomaly_detection_spark.sources.synth import (
        SynthSpec,
        generate_clips,
        generate_manifest,
    )

    spec = SynthSpec(partitions=3, clips_per_partition=80)
    generate_clips(spark, spec).write.parquet(str(tmp_path / "clips"))
    generate_manifest(spark, spec).write.parquet(str(tmp_path / "manifest"))
    # cover partition c000's ENTIRE seq axis
    spark.createDataFrame(
        [("c000", 0, 10_000)],
        "partition_key string, start_seq long, end_seq long",
    ).write.parquet(str(tmp_path / "windows"))

    base_argv = [
        "--clips", str(tmp_path / "clips"),
        "--manifest", str(tmp_path / "manifest"),
        "--no-audio", "--master", "local[8]",
    ]
    rc, bare = _run(capsys, base_argv + ["--checkpoint-dir", str(tmp_path / "c1")])
    assert rc == 0
    rc, ex = _run(capsys, base_argv + [
        "--checkpoint-dir", str(tmp_path / "c2"),
        "--exclusion-windows", str(tmp_path / "windows"),
    ])
    assert rc == 0
    assert 0 < ex["violations"] < bare["violations"]

    # every c000 violation left is partition-level; row-level verdicts pass
    viol = spark.read.parquet(str(tmp_path / "c2" / "violations"))
    row_level = ~F.col("detector").isin(
        "timeout", "unique", "drift-dur_ms", "drift-sr_hz"
    )
    assert viol.filter((F.col("partition_key") == "c000") & row_level).count() == 0
    lin = spark.read.parquet(str(tmp_path / "c2" / "lineage"))
    flipped = lin.filter(
        (F.col("partition_key") == "c000") & row_level & ~F.col("pass")
    )
    assert flipped.count() == 0


def test_runner_ref_table_binds_calibration_revisions(spark, tmp_path, capsys):
    """--ref-table NAME=PATH: a ruleset-declared calibrated_range rule
    resolves its revisions table from the CLI binding; violations land
    under the calibrated detector with the firing revision in the note.
    A malformed binding or a missing table aborts before any job."""
    import json as _json

    from pyspark.sql import functions as F

    from use_case_real_time_anomaly_detection_spark.sources.synth import (
        SynthSpec,
        generate_clips,
        generate_manifest,
    )

    spec = SynthSpec(partitions=2, clips_per_partition=80)
    generate_clips(spark, spec).write.parquet(str(tmp_path / "clips"))
    generate_manifest(spark, spec).write.parquet(str(tmp_path / "manifest"))
    # c000 tightens at seq 40; c001 is effectively unbounded
    spark.createDataFrame(
        [("c000", 0, 200.0, 900.0), ("c000", 40, 50.0, 2500.0),
         ("c001", 0, 1.0, 1e6)],
        "partition_key string, eff_seq long, lo double, hi double",
    ).write.parquet(str(tmp_path / "cal"))
    ruleset = {"rules": [{"type": "calibrated_range", "column": "dur_ms"}]}
    (tmp_path / "rules.json").write_text(_json.dumps(ruleset))

    base_argv = [
        "--clips", str(tmp_path / "clips"),
        "--manifest", str(tmp_path / "manifest"),
        "--rules", str(tmp_path / "rules.json"),
        "--no-audio", "--master", "local[8]",
    ]
    rc, out = _run(capsys, base_argv + [
        "--checkpoint-dir", str(tmp_path / "c1"),
        "--ref-table", f"calibration_revisions={tmp_path / 'cal'}",
    ])
    assert rc == 0 and out["violations"] > 0
    # no range rule in this ruleset: the clip count still covers every row
    assert out["clips_validated"] == spark.read.parquet(str(tmp_path / "clips")).count()
    viol = spark.read.parquet(str(tmp_path / "c1" / "violations"))
    rows = viol.filter(F.col("detector") == "calibrated-range-dur_ms")
    assert rows.count() == out["violations"]
    # only the tight pre-seq-40 c000 regime fires, and the note names it
    assert rows.filter(F.col("partition_key") == "c001").count() == 0
    assert rows.filter(~F.col("note").contains("eff_seq:0")).count() == 0

    # malformed binding: usage error, no job
    rc, _ = _run(capsys, base_argv + [
        "--checkpoint-dir", str(tmp_path / "c2"), "--ref-table", "nonsense",
    ])
    assert rc == 2
    # ruleset references a table no binding supplies: config-time abort
    import pytest as _pytest

    with _pytest.raises(ValueError, match="calibration_revisions"):
        _run(capsys, base_argv + ["--checkpoint-dir", str(tmp_path / "c3")])


def test_runner_profile_state_is_the_validated_partitions_state(
    spark, tmp_path, capsys
):
    """The stored profile_state rows are profile_state() of the frame the
    pass validated, HLL bytes included: a cold pass writes every
    partition's row, and a resumed pass rewrites only the partitions it
    validated (a skipped partition whose data changed keeps its row)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from use_case_real_time_anomaly_detection_spark.functions.stats import (
        profile_state,
    )
    from use_case_real_time_anomaly_detection_spark.operators.rules import (
        ProfileSpec,
    )
    from use_case_real_time_anomaly_detection_spark.operators.schema import (
        with_partition_cols,
    )
    from use_case_real_time_anomaly_detection_spark.plans.clips import (
        default_rules,
    )
    from use_case_real_time_anomaly_detection_spark.sources.synth import (
        SynthSpec,
        manifest_pandas,
        metadata_pandas,
    )

    spec = SynthSpec(partitions=3, clips_per_partition=60)
    meta = metadata_pandas(spec).assign(bytes=b"")
    changed = meta.copy()
    c000 = changed.partition_key == "c000"
    changed.loc[c000, "dur_ms"] += 7
    frames = {
        "cold": meta[meta.partition_key != "c002"],
        "warm": changed,
        "manifest": manifest_pandas(spec),
    }
    for name, frame in frames.items():
        (tmp_path / name).mkdir()
        pq.write_table(
            pa.Table.from_pandas(frame, preserve_index=False),
            str(tmp_path / name / "part-0.parquet"),
        )
    (prof,) = [r for r in default_rules() if isinstance(r, ProfileSpec)]
    kw = dict(
        numeric_columns=prof.numeric_columns,
        distinct_columns=prof.distinct_columns,
        histogram_columns={c: (lo, hi, n) for c, lo, hi, n in prof.histogram_columns},
    )

    def state(name, parts):
        df = with_partition_cols(spark.read.parquet(str(tmp_path / name)))
        return profile_state(df.filter(df.partition_key.isin(*parts)), **kw).collect()

    ckpt = str(tmp_path / "ckpt")

    def stored():
        return sorted(
            map(tuple, spark.read.parquet(f"{ckpt}/profile_state").drop("pk").collect())
        )

    argv = ["--manifest", str(tmp_path / "manifest"), "--checkpoint-dir", ckpt, "--no-audio"]
    rc, out = _run(capsys, ["--clips", str(tmp_path / "cold"), *argv])
    assert rc == 0 and out["partitions_validated"] == 2
    cold = sorted(map(tuple, state("cold", ["c000", "c001"])))
    assert stored() == cold

    rc, out = _run(capsys, ["--clips", str(tmp_path / "warm"), *argv])
    assert rc == 0 and out["partitions_validated"] == 1
    # c000 changed but resume skipped it, so its row is the cold pass's
    assert stored() == sorted(cold + list(map(tuple, state("warm", ["c002"]))))
    assert state("warm", ["c000"])[0] != state("cold", ["c000"])[0]
