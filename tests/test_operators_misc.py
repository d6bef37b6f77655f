"""limit_by rewrite, rule validation, profiling, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from use_case_real_time_anomaly_detection_spark.functions.multimodal import (
    image_features,
)
from use_case_real_time_anomaly_detection_spark.functions.stats import profile_table
from use_case_real_time_anomaly_detection_spark.operators.limit_by import limit_by
from use_case_real_time_anomaly_detection_spark.operators.rules import (
    RangeRule,
    ValueSetRule,
)


def test_limit_by_matches_reference_semantics(spark):
    """≙ LIMIT 1 BY id after ORDER BY ts DESC (timeout.pipe:22-23)."""
    df = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 5, "c"), (2, 5, "d")],
        "id long, ts long, tag string",
    )
    got = {
        (r["id"], r["tag"])
        for r in limit_by(df, ["id"], [F.desc("ts"), F.desc("tag")], 1).collect()
    }
    assert got == {(1, "b"), (2, "d")}

    top2 = limit_by(df, ["id"], [F.desc("ts"), F.desc("tag")], 2).count()
    assert top2 == 4


def test_rule_validation_errors():
    with pytest.raises(ValueError):
        RangeRule("x")  # ≙ {{ error(...) }} — out_of_range.pipe:28
    with pytest.raises(ValueError):
        ValueSetRule("x", allowed=())


def test_profile_long_format(spark):
    df = spark.createDataFrame(
        [("p1", 1, None), ("p1", 3, "x"), ("p2", 5, "y")],
        "partition_key string, v long, s string",
    )
    prof = profile_table(df, ("v", "s")).toPandas()
    p1 = prof[(prof.partition_key == "p1")]
    null_rate = p1[(p1["column"] == "s") & (p1.stat == "null_rate")]["value"].iloc[0]
    assert null_rate == pytest.approx(0.5)
    vmax = p1[(p1["column"] == "v") & (p1.stat == "max")]["value"].iloc[0]
    assert vmax == 3.0


def test_image_features_stub_plumbing(spark):
    rows = [
        ("i1", bytes(range(64)), "fake:gray8x8"),
        ("i2", b"\xff" * 10, "fake:gray8x8"),
        ("i3", b"\x00" * 10, "jpeg"),  # stubbed → decode_error row
        ("i4", b"\x00" * 10, "webp"),  # unknown codec → decode_error row
    ]
    df = spark.createDataFrame(rows, "item_id string, payload binary, codec string")
    got = {r["item_id"]: r for r in image_features(df).collect()}
    assert got["i1"]["width"] == 8 and got["i1"]["decode_error"] is None
    assert got["i1"]["mean_luma"] == pytest.approx(31.5)
    assert "requires an image codec" in got["i3"]["decode_error"]
    assert "no decoder" in got["i4"]["decode_error"]


# ---------------------------------------------------------------------------
# consumer endpoints (simple_z_score / get_data / ui_ids / monitor_logs /
# get_anomalies)
# ---------------------------------------------------------------------------


def test_simple_z_score_equals_z_score_at_same_threshold(spark):
    from use_case_real_time_anomaly_detection_spark.plans import detectors as D

    ev = D.events_shape(spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    f = D.frontier_ts(ev)
    simple = D.simple_z_score(ev, f, zscore_multiplier=2.0)
    base = D.z_score(ev, f, zscore_threshold=2.0)
    assert {r["zscore_multiplier"] for r in simple.select("zscore_multiplier").distinct().collect()} <= {2.0}
    a = {tuple(r) for r in base.collect()}
    b = {tuple(r)[:-1] for r in simple.collect()}
    assert a == b


def test_endpoint_filters(spark):
    from pyspark.sql import functions as F

    from use_case_real_time_anomaly_detection_spark.plans import detectors as D
    from use_case_real_time_anomaly_detection_spark.plans.copylog import (
        get_anomalies,
        monitor_logs,
        violations_log,
    )

    ev = D.events_shape(spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    f = D.frontier_ts(ev)

    ids = D.ui_ids(ev)
    assert ids.count() == ev.select("id").distinct().count()

    sliced = D.get_data(ev, f, minutes=1440, sensor_id=1)
    assert sliced.filter(F.col("id") != 1).count() == 0

    log = violations_log(ev, f)
    mon = monitor_logs(log, f, hours=24)
    assert mon.count() == log.filter(
        F.col("ts") > F.lit(f) - F.expr("INTERVAL 24 HOUR")
    ).distinct().count()

    one_type = get_anomalies(log, f, hours=72, anomaly_type="out-of-range")
    assert one_type.filter(F.col("anomaly_type") != "out-of-range").count() == 0
    assert one_type.count() > 0


def test_chunked_window_equals_global_window(spark):
    """operators/skew.py chunked_window_cols: the skew-safe
    (partition, seq-chunk) window path must reproduce the global
    per-partition window EXACTLY — same violations, same notes."""
    from use_case_real_time_anomaly_detection_spark.plans.clips import validate_clips, default_rules
    from use_case_real_time_anomaly_detection_spark.sources.synth import (
        SynthSpec,
        frontier_of,
        generate_clips,
        generate_manifest,
    )

    spec = SynthSpec(partitions=4, clips_per_partition=300)
    clips = generate_clips(spark, spec).cache()
    manifest = generate_manifest(spark, spec).cache()
    rules = default_rules(with_audio=False)

    def run(chunk):
        res = validate_clips(
            clips, manifest, frontier=frontier_of(spec), rules=rules,
            window_chunk_size=chunk,
        )
        return {tuple(r) for r in res.violations.collect()}

    baseline = run(None)
    # chunk 120 > frame 50 (z-score window) — several chunks per partition
    assert run(120) == baseline
    assert baseline  # non-trivial
    clips.unpersist()
    manifest.unpersist()


def test_chunked_window_rejects_small_chunks(spark):
    from use_case_real_time_anomaly_detection_spark.operators.skew import chunked_window_cols

    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunked_window_cols(
            spark.range(1),
            partition_col="id",
            seq_col="id",
            frame_rows=50,
            chunk_size=10,
            cols_builder=lambda w: [],
        )


def test_chunked_window_exact_across_empty_chunks(spark):
    """A seq gap wider than chunk_size leaves whole chunks empty; the
    tail replica must route to the next NON-EMPTY chunk so the first row
    after the gap still sees its true previous row (exactly the rows a
    GapRule exists to flag)."""
    from pyspark.sql import Window

    from use_case_real_time_anomaly_detection_spark.operators.skew import chunked_window_cols

    # partition p: seqs 0..39, then a gap of 3 empty 20-chunks, then 100..139
    rows = [("p", s, float(s)) for s in range(40)]
    rows += [("p", s, float(s)) for s in range(100, 140)]
    # second partition with its own gap pattern (each non-empty chunk
    # holds >= frame_rows rows — the documented exactness precondition)
    rows += [("q", s, float(s * 2)) for s in (0, 1, 2, 55, 56, 57, 90)]
    df = spark.createDataFrame(rows, "part string, seq long, v double").repartition(8)

    def cols(w):
        return [
            F.lag("v", 1).over(w).alias("prev_v"),
            F.lag("seq", 1).over(w).alias("prev_seq"),
            F.avg("v").over(w.rowsBetween(-3, -1)).alias("roll_avg"),
        ]

    w_global = Window.partitionBy("part").orderBy("seq")
    expected = {tuple(r) for r in df.select("*", *cols(w_global)).collect()}
    got = {
        tuple(r)
        for r in chunked_window_cols(
            df,
            partition_col="part",
            seq_col="seq",
            frame_rows=3,
            chunk_size=20,
            cols_builder=cols,
        ).collect()
    }
    assert got == expected
    # sanity: the gap rows really cross empty chunks
    assert ("p", 100, 100.0, 39.0, 39, (37.0 + 38.0 + 39.0) / 3) in expected


def test_salted_repartition_fans_out_hot_key(spark):
    """A single hot key already clustered in ONE input partition must
    spread over >= salt/2 output partitions (the salt is per-row, not
    per-input-partition)."""
    from use_case_real_time_anomaly_detection_spark.operators.skew import salted_repartition

    hot = (
        spark.range(5000)
        .select(F.lit("pcm16").alias("codec"), F.col("id"))
        .coalesce(1)  # the typical skew case: hot key pre-clustered
    )
    # AQE would (correctly) re-coalesce these tiny partitions; disable it
    # here to observe the raw fan-out the salt provides.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # 256 target partitions so the 16 salted keys rarely collide —
        # the assertion is about the salt mechanism, not hash collisions
        out = salted_repartition(hot, "codec", salt=16, num_partitions=256)
        n_parts = (
            out.select(F.spark_partition_id().alias("p")).distinct().count()
        )
        assert n_parts >= 8, n_parts
        assert out.count() == 5000
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_violations_log_fused_equals_union(spark):
    """The single-scan fused log must reproduce the five-detector union
    EXACTLY — same rows, same note bytes — at two scales."""
    from use_case_real_time_anomaly_detection_spark.plans import detectors as D
    from use_case_real_time_anomaly_detection_spark.plans.copylog import (
        violations_log,
        violations_log_union,
    )

    ev = D.events_shape(spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    f = D.frontier_ts(ev)
    fused = {tuple(r) for r in violations_log(ev, f).collect()}
    union = {tuple(r) for r in violations_log_union(ev, f).collect()}
    assert fused == union
    assert len(fused) > 0
    # non-default thresholds flow through both paths identically
    fused2 = {
        tuple(r)
        for r in violations_log(ev, f, zscore_threshold=3.0, max_slope=0.01).collect()
    }
    union2 = {
        tuple(r)
        for r in violations_log_union(
            ev, f, zscore_threshold=3.0, max_slope=0.01
        ).collect()
    }
    assert fused2 == union2
    assert fused2 != fused


def test_response_envelope(spark):
    """≙ the reference endpoint JSON envelope (tutorials/z-score.md:195-225):
    meta types, data rows with DateTime strings, rows count, statistics."""
    from use_case_real_time_anomaly_detection_spark.plans import detectors as D
    from use_case_real_time_anomaly_detection_spark.plans.envelope import response_envelope

    ev = D.events_shape(spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    f = D.frontier_ts(ev)
    out = response_envelope(D.z_score(ev, f), rows_read=ev.count())
    assert [m["name"] for m in out["meta"]][:4] == ["id", "ts", "value", "zscore"]
    types = {m["name"]: m["type"] for m in out["meta"]}
    assert types["id"] == "Int64" and types["value"] == "Float64"
    assert types["ts"] == "DateTime"
    assert out["rows"] == len(out["data"]) > 0
    assert isinstance(out["data"][0]["ts"], str)  # DateTime rendered as string
    assert out["statistics"]["rows_read"] > 0
    assert out["statistics"]["elapsed"] >= 0


def test_endpoint_output_ordering(spark):
    """O1/O2: endpoint plans apply the reference's final ORDER BY
    (timestamp DESC for detectors, id ASC for most_recent)."""
    from use_case_real_time_anomaly_detection_spark.plans import detectors as D

    ev = D.events_shape(spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    f = D.frontier_ts(ev)
    ts = [r["ts"] for r in D.out_of_range(ev, f).collect()]
    assert ts == sorted(ts, reverse=True) and len(ts) > 0
    zts = [r["ts"] for r in D.z_score(ev, f).collect()]
    assert zts == sorted(zts, reverse=True)
    ids = [r["id"] for r in D.most_recent(ev).collect()]
    assert ids == sorted(ids)
    dts = [r["ts"] for r in D.data(ev, f, hours=48).collect()]
    assert dts == sorted(dts, reverse=True) and len(dts) > 0


def test_violations_log_fused_equals_union_property(spark):
    """Property: on RANDOM event frames (duplicate rows, NULL values,
    tied timestamps, tiny/huge values) the fused single-scan log equals
    the five-detector union byte-for-byte. Hypothesis drives the frame
    shapes; 6 examples keeps the Spark round-trips affordable."""
    import datetime as dt

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from use_case_real_time_anomaly_detection_spark.plans.copylog import (
        violations_log,
        violations_log_union,
    )

    t0 = dt.datetime(2024, 1, 1)

    row = st.tuples(
        st.integers(min_value=1, max_value=4),                      # id
        st.integers(min_value=0, max_value=20 * 86400),             # ts offset s
        st.one_of(
            st.none(),
            st.floats(
                min_value=-500, max_value=500,
                allow_nan=False, allow_infinity=False, width=16,
            ),
        ),
    )

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(st.lists(row, min_size=5, max_size=60))
    def check(rows):
        data = [
            (i, t0 + dt.timedelta(seconds=off), float(v) if v is not None else None, k)
            for k, (i, off, v) in enumerate(rows)
        ]
        # inject exact duplicate rows (same event_id) to hit tie paths
        data += data[:3]
        ev = spark.createDataFrame(
            data, "id long, ts timestamp, value double, event_id long"
        )
        frontier = max(r[1] for r in data)
        fused = {tuple(r) for r in violations_log(ev, frontier).collect()}
        union = {tuple(r) for r in violations_log_union(ev, frontier).collect()}
        assert fused == union

    check()


def test_adaptive_reader_batch_regimes():
    """One-wave jobs get the small (G1-friendly) scan batches; multi-wave
    jobs keep Spark's default — the r2-measured regime switch, automated."""
    from use_case_real_time_anomaly_detection_spark.session import adaptive_reader_batch

    mb = 1 << 20
    # 450 MB on 32 cores at 128 MB splits: ~4 tasks, one wave -> 512
    assert adaptive_reader_batch(450 * mb, 32) == 512
    # 20 GB on 32 cores: ~160 tasks, 5 waves -> default 4096
    assert adaptive_reader_batch(20 * 1024 * mb, 32) == 4096
    # same 20 GB on 4 cores at 64 MB splits: deeply multi-wave -> 4096
    assert adaptive_reader_batch(20 * 1024 * mb, 4, 64 * mb) == 4096
    # empty input degenerates to the small-job setting, harmlessly
    assert adaptive_reader_batch(0, 8) == 512


def test_csv_fixture_sink(spark, tmp_path):
    """S7: the wide CSV fixture sink writes the reference generator's
    file shape (header 'Timestamp, sensor <id>...', one row per ts,
    sensor values in their columns, ts-ordered)."""
    import datetime as dt
    import glob

    import pandas as pd

    from use_case_real_time_anomaly_detection_spark.sources.fixture import (
        write_csv_fixture,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 10.5), (2, t0, 20.0),
        (1, t0 + dt.timedelta(minutes=1), 11.0),
        # duplicate (id, ts) report -> max wins deterministically
        (2, t0 + dt.timedelta(minutes=1), 21.0),
        (2, t0 + dt.timedelta(minutes=1), 19.0),
    ]
    ev = spark.createDataFrame(rows, "id long, ts timestamp, value double")
    out = str(tmp_path / "fixture_csv")
    write_csv_fixture(ev, out)
    (part,) = glob.glob(f"{out}/part-*.csv")
    df = pd.read_csv(part)
    assert list(df.columns) == ["Timestamp", "sensor 1", "sensor 2"]
    assert len(df) == 2  # one row per timestamp, ordered
    assert df["sensor 1"].tolist() == [10.5, 11.0]
    assert df["sensor 2"].tolist() == [20.0, 21.0]


def test_empty_inputs_yield_empty_results(spark):
    """Corpus-edge robustness: every composite operator must return an
    EMPTY relation (not raise) on empty input — the r2-advice
    lsh_bucketed None[0] bug class, swept across the operator surface."""
    from use_case_real_time_anomaly_detection_spark.functions.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )
    from use_case_real_time_anomaly_detection_spark.functions.incremental import (
        dedup_gate,
    )
    from use_case_real_time_anomaly_detection_spark.functions.similarity import (
        neardup_pairs_lsh,
    )
    from use_case_real_time_anomaly_detection_spark.functions.stats import (
        topk_values,
    )
    from use_case_real_time_anomaly_detection_spark.operators.engine import (
        RunResult,
        quarantine_split,
        verdict_diff,
    )

    empty_clips = spark.createDataFrame(
        [], "partition_key string, clip_id string, codec string, sr_hz int"
    )
    empty_viol = spark.createDataFrame(
        [],
        "partition_key string, clip_id string, detector string, "
        "observed string, note string",
    )
    empty_verd = spark.createDataFrame(
        [], "partition_key string, detector string, pass boolean, violation_count long"
    )
    empty_docs = spark.createDataFrame([], "doc_id string, text string")
    empty_emb = spark.createDataFrame([], "emb_id long, vec array<float>")

    empty_run = RunResult(
        violations=empty_viol, verdicts=empty_verd, profile=None, run_id="empty"
    )
    clean, quar = quarantine_split(empty_clips, empty_run)
    assert clean.count() == 0 and quar.count() == 0
    assert verdict_diff(empty_verd, empty_verd).count() == 0
    assert topk_values(empty_clips, ["codec", "sr_hz"], k=3).count() == 0
    assert minhash_lsh_pairs(empty_docs).count() == 0
    assert dedup_gate(empty_docs).count() == 0
    assert dedup_gate(empty_docs, empty_docs).count() == 0
    assert (
        connected_components(spark.createDataFrame([], "id_a string, id_b string"))
        .count() == 0
    )
    assert neardup_pairs_lsh(empty_emb, id_col="emb_id", vec_col="vec").count() == 0


def test_pattern_rule_semantics(spark):
    """PatternRule: charset violations flagged, NULLs skipped, negate
    flips to a denylist, empty pattern aborts at construction."""
    from use_case_real_time_anomaly_detection_spark.operators.engine import (
        ValidationEngine,
    )
    from use_case_real_time_anomaly_detection_spark.operators.rules import (
        PatternRule,
    )

    df = spark.createDataFrame(
        [
            ("p0", "c1", "good clean words"),
            ("p0", "c2", "bad [corrupted]"),
            ("p0", "c3", None),
            ("p1", "c4", "UPPER case"),
        ],
        "partition_key string, clip_id string, transcript string",
    )
    eng = ValidationEngine()
    v = eng.run(df, [PatternRule("transcript", "^[a-z ]+$")], run_id="t").violations
    flagged = {r["clip_id"]: r["note"] for r in v.collect()}
    assert set(flagged) == {"c2", "c4"}  # NULL (c3) is NotNullRule's job
    assert flagged["c2"] == "column:transcript must match pattern:^[a-z ]+$"

    deny = eng.run(
        df, [PatternRule("transcript", "corrupted", negate=True)], run_id="d"
    ).violations
    assert {r["clip_id"] for r in deny.collect()} == {"c2"}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="empty pattern"):
        PatternRule("transcript", "")


def test_release_pinned_drops_checkpoint_blocks(spark):
    """release_pinned: every block-manager-persisted RDD (the dedup
    operators' localCheckpoint pin points) is dropped so long-lived
    multi-query sessions don't accumulate storage that squeezes the
    execution pool. Released frames are gone for good — callers only
    invoke it between independent jobs."""
    from use_case_real_time_anomaly_detection_spark.functions.dedup import (
        simhash_near_pairs,
    )
    from use_case_real_time_anomaly_detection_spark.session import release_pinned

    release_pinned(spark)  # start from a clean slate (session is shared)
    docs = spark.createDataFrame(
        [(i, f"some shared boilerplate text body number {i % 3}") for i in range(30)],
        "doc_id long, text string",
    )
    pairs = simhash_near_pairs(docs, max_hamming=3)
    n_pairs = pairs.count()
    assert n_pairs > 0

    jsc = spark.sparkContext._jsc
    assert jsc.getPersistentRDDs().size() > 0  # the pin is real
    released = release_pinned(spark)
    assert released > 0
    assert jsc.getPersistentRDDs().size() == 0


def test_capped_limit_by_matches_single_window(spark):
    """The two-phase skew-proof cap must equal the single-window
    formulation whenever the order is total within each group (here v is
    unique per key) — phase 1 only drops rows phase 2 would drop."""
    from pyspark.sql import functions as F

    from use_case_real_time_anomaly_detection_spark.operators.limit_by import (
        capped_limit_by,
        limit_by,
    )

    data = [("hot", i) for i in range(500)] + [("cold", i) for i in range(3)]
    df = spark.createDataFrame(data, "k string, v long").repartition(8)
    got = capped_limit_by(df, ["k"], [F.col("v")], 5)
    want = limit_by(df, ["k"], [F.col("v")], 5)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.filter(F.col("k") == "hot").count() == 5
    assert got.filter(F.col("k") == "cold").count() == 3


def test_max_violations_caps_evidence_not_verdicts(spark):
    """max_violations_per_group bounds the EMITTED evidence per
    (partition, detector) while verdict counts stay exact — the verdict
    aggregation binds to the uncapped frame."""
    from pyspark.sql import functions as F

    from use_case_real_time_anomaly_detection_spark.plans.clips import (
        default_rules,
        validate_clips,
    )
    from use_case_real_time_anomaly_detection_spark.sources.synth import (
        SynthSpec,
        frontier_of,
        generate_clips,
        generate_manifest,
    )

    spec = SynthSpec(partitions=3, clips_per_partition=100)
    clips = generate_clips(spark, spec)
    manifest = generate_manifest(spark, spec)
    kw = dict(
        frontier=frontier_of(spec), rules=default_rules(with_audio=False),
        run_id="cap",
    )
    full = validate_clips(clips, manifest, **kw)
    capped = validate_clips(clips, manifest, max_violations_per_group=2, **kw)

    # verdicts identical, including exact violation_count
    vf = sorted(map(tuple, full.verdicts.collect()))
    vc = sorted(map(tuple, capped.verdicts.collect()))
    assert vf == vc

    per_group = (
        capped.violations.groupBy("partition_key", "detector")
        .count()
        .collect()
    )
    assert per_group and all(r["count"] <= 2 for r in per_group)

    # deterministic first-n: capped evidence == first 2 clip_ids of the
    # full evidence within every group
    full_rows = full.violations.select(
        "partition_key", "detector", "clip_id"
    ).collect()
    by_group: dict = {}
    for r in full_rows:
        by_group.setdefault((r[0], r[1]), []).append(r[2])
    want = {
        (g[0], g[1], cid)
        for g, cids in by_group.items()
        for cid in sorted(cids)[:2]
    }
    got = {
        (r[0], r[1], r[2])
        for r in capped.violations.select(
            "partition_key", "detector", "clip_id"
        ).collect()
    }
    assert got == want

    import pytest as _pytest

    from use_case_real_time_anomaly_detection_spark.operators.engine import (
        ValidationEngine,
    )

    with _pytest.raises(ValueError, match="max_violations_per_group"):
        ValidationEngine().run(
            clips, default_rules(with_audio=False),
            frontier=frontier_of(spec), refs={"clip_manifest": manifest},
            max_violations_per_group=0,
        )


def test_iqr_max_per_sensor_throttle(spark):
    """≙ content/interquartile-range.md:104 `LIMIT {{max_per_sensor}} BY
    id`: around a step change, cap reported events per sensor at the n
    MOST RECENT (the reference's trailing-edge selection); None returns
    everything (the copy-pipe variant)."""
    from pyspark.sql import functions as F

    from use_case_real_time_anomaly_detection_spark.plans import detectors as D

    # sensor 1: stable value 10 for 50 ticks, then a step to 100 for 20
    # ticks — every post-step event breaches the stale fences. sensor 2:
    # all stable (no detections).
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)
    sec = dt.timedelta(seconds=1)
    rows = (
        [(1, t0 + t * sec, 10.0 + (t % 3) * 0.1, f"e1{t:03d}") for t in range(60)]
        + [(1, t0 + (60 + t) * sec, 1000.0 + t, f"e1x{t:03d}") for t in range(10)]
        + [(2, t0 + t * sec, 5.0, f"e2{t:03d}") for t in range(70)]
    )
    events = spark.createDataFrame(
        rows, "id int, ts timestamp, value double, event_id string"
    )
    frontier = t0 + 69 * sec

    full = D.iqr(
        events, frontier,
        stats_window_seconds=70, detect_window_seconds=70,
    ).collect()
    assert {r["id"] for r in full} == {1}
    n_full = len(full)
    assert n_full > 3

    capped = D.iqr(
        events, frontier,
        stats_window_seconds=70, detect_window_seconds=70,
        max_per_sensor=3,
    ).collect()
    assert len(capped) == 3
    # trailing edge: the 3 most recent of the full set, still ts DESC
    want = sorted(full, key=lambda r: r["ts"], reverse=True)[:3]
    assert [r["ts"] for r in capped] == [r["ts"] for r in want]


def test_capped_limit_by_property(spark):
    """Property: for RANDOM key skews, group sizes, cap values, and input
    partitionings, the two-phase skew-proof cap equals the single-window
    LIMIT n BY exactly — the pre-cap can only drop rows the global cap
    would drop (order is total: v is made unique per key)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from use_case_real_time_anomaly_detection_spark.operators.limit_by import (
        capped_limit_by,
        limit_by,
    )

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        sizes=st.lists(st.integers(min_value=0, max_value=120),
                       min_size=1, max_size=5),
        n=st.integers(min_value=1, max_value=7),
        parts=st.integers(min_value=1, max_value=16),
    )
    def check(sizes, n, parts):
        data = [
            (f"k{ki}", ki * 1000 + j)
            for ki, sz in enumerate(sizes)
            for j in range(sz)
        ]
        if not data:
            return
        df = spark.createDataFrame(data, "k string, v long").repartition(parts)
        got = sorted(
            map(tuple, capped_limit_by(df, ["k"], [F.col("v")], n).collect())
        )
        want = sorted(map(tuple, limit_by(df, ["k"], [F.col("v")], n).collect()))
        assert got == want

    check()


def test_unique_rule_scopes(spark):
    """UniqueRule scope: 'partition' flags only within-partition dups;
    'global' also catches a key split across partitions — every
    involved partition gets a row and observed carries the GLOBAL
    count, so either owner's verdict fails."""
    from use_case_real_time_anomaly_detection_spark.operators.compiler import (
        compile_rules,
    )
    from use_case_real_time_anomaly_detection_spark.operators.config import (
        rules_from_config,
        rules_to_config,
    )
    from use_case_real_time_anomaly_detection_spark.operators.rules import UniqueRule

    rows = [
        ("p0", "k1"), ("p0", "k1"),  # within-partition dup
        ("p0", "k2"), ("p1", "k2"),  # cross-partition dup
        ("p1", "k3"),                # unique
    ]
    df = spark.createDataFrame(rows, "partition_key string, clip_id string")

    got = {
        (r.partition_key, r.clip_id): r.observed
        for r in compile_rules(df, [UniqueRule()]).violations.collect()
    }
    assert got == {("p0", "k1"): "2"}

    rule = UniqueRule(scope="global")
    viol = compile_rules(df, [rule]).violations.collect()
    got = {(r.partition_key, r.clip_id): r.observed for r in viol}
    assert got == {
        ("p0", "k1"): "2",
        ("p0", "k2"): "2",
        ("p1", "k2"): "2",
    }
    assert all("global scope" in r.note for r in viol)

    assert rules_from_config(rules_to_config([rule])) == [rule]
    with pytest.raises(ValueError, match="scope"):
        UniqueRule(scope="everywhere")
