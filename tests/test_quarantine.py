"""quarantine_split (operators/engine.py): route validated data into a
clean corpus + a quarantine table with per-clip violation evidence."""

import pytest
from pyspark.sql import functions as F

from use_case_real_time_anomaly_detection_spark.operators.engine import (
    ValidationEngine,
    quarantine_split,
)
from use_case_real_time_anomaly_detection_spark.operators.schema import (
    with_partition_cols,
)
from use_case_real_time_anomaly_detection_spark.plans.clips import default_rules
from use_case_real_time_anomaly_detection_spark.sources.synth import (
    SynthSpec,
    frontier_of,
    generate_clips,
    generate_manifest,
)


@pytest.fixture(scope="module")
def split(spark):
    spec = SynthSpec(partitions=4, clips_per_partition=150)
    clips = with_partition_cols(generate_clips(spark, spec))
    manifest = generate_manifest(spark, spec)
    eng = ValidationEngine(seq_col="seq")
    res = eng.run(
        clips,
        default_rules(with_audio=False, seed=spec.seed),
        frontier=frontier_of(spec),
        refs={"clip_manifest": manifest},
        persist=True,
    )
    clean, quar = quarantine_split(clips, res)
    return clips, res.violations.persist(), clean.persist(), quar.persist()


def test_clean_and_quarantine_partition_the_corpus(split):
    clips, _, clean, quar = split
    all_ids = {r["clip_id"] for r in clips.select("clip_id").collect()}
    clean_ids = {r["clip_id"] for r in clean.select("clip_id").collect()}
    quar_ids = {r["clip_id"] for r in quar.select("clip_id").collect()}
    # the fixture plants duplicated clip_ids, so compare as KEY sets:
    # every key is on exactly one side, and nothing is lost
    assert clean_ids | quar_ids == all_ids
    assert clean_ids & quar_ids == set()
    assert quar_ids  # non-vacuous: the fixture plants violations


def test_quarantined_rows_carry_their_evidence(split):
    _, violations, _, quar = split
    ev = {
        (r["partition_key"], r["clip_id"]): (r["n_violations"], r["detectors"])
        for r in quar.collect()
    }
    # evidence equals the clip-level violation rows, aggregated
    expected = (
        violations.filter(
            F.col("clip_id").isNotNull() & (F.col("detector") != "timeout")
        )
        .groupBy("partition_key", "clip_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.array_sort(F.collect_set("detector")).alias("ds"),
        )
    )
    for r in expected.collect():
        n, ds = ev[(r["partition_key"], r["clip_id"])]
        assert n == r["n"]
        assert ds == ",".join(r["ds"])
        assert ds == ",".join(sorted(ds.split(",")))  # stable sorted string


def test_partition_level_detectors_do_not_quarantine(split):
    _, violations, clean, quar = split
    # drift rows (NULL clip_id) and the timeout row (names the stale
    # partition's LAST clip, not a bad row) must not pull clips out
    stale = [
        r["clip_id"]
        for r in violations.filter(F.col("detector") == "timeout").collect()
    ]
    assert stale  # fixture has a stopped partition
    clip_level = {
        r["clip_id"]
        for r in violations.filter(
            F.col("clip_id").isNotNull() & (F.col("detector") != "timeout")
        ).collect()
    }
    clean_ids = {r["clip_id"] for r in clean.select("clip_id").collect()}
    for cid in stale:
        if cid not in clip_level:  # unless independently implicated
            assert cid in clean_ids


def test_duplicated_keys_quarantine_every_copy(split):
    clips, violations, clean, _ = split
    dup_keys = [
        r["clip_id"]
        for r in violations.filter(F.col("detector") == "unique").collect()
    ]
    assert dup_keys  # fixture plants duplicates
    remaining = clean.filter(F.col("clip_id").isin(dup_keys)).count()
    assert remaining == 0  # strict: ALL copies of a duplicated key routed out


def test_run_partition_level_detectors_do_not_quarantine(spark):
    """The skip list is the run's own partition_level: a second-tier
    GapRule names its stale partition's last clip and an FdRule names
    the joined determinant values, and neither lands in quarantine."""
    from use_case_real_time_anomaly_detection_spark.operators.rules import (
        FdRule,
        GapRule,
        RangeRule,
    )

    clips = spark.createDataFrame(
        [
            ("p0", "p0-1", 1, "pcm16", 16000, 500),
            ("p0", "p0-2", 2, "pcm16", 16000, 500),
            ("p1", "p1-1", 1, "pcm16", 16000, 500),
            ("p1", "p1-2", 2, "pcm16", 8000, 500),
            ("p1", "p1-3", 3, "pcm16", 16000, 9000),
            ("p1", "p1-4", 4, "pcm16", 16000, 500),
        ],
        "partition_key string, clip_id string, seq long, codec string, "
        "sr_hz int, dur_ms int",
    )
    rules = [
        GapRule(max_staleness=1, max_gap=5, detector="timeout-tier2"),
        FdRule(determinants=("codec",), dependent="sr_hz", scope="partition"),
        RangeRule("dur_ms", 200, 2000),
    ]
    res = ValidationEngine(seq_col="seq").run(clips, rules, frontier=4)
    fired = {
        (r["detector"], r["clip_id"]) for r in res.violations.collect()
    }
    assert fired == {
        ("timeout-tier2", "p0-2"),
        ("functional-dependency", "pcm16"),
        ("out-of-range", "p1-3"),
    }
    clean, quar = quarantine_split(clips, res)
    assert {r["clip_id"] for r in quar.collect()} == {"p1-3"}
    assert "p0-2" in {r["clip_id"] for r in clean.collect()}


def test_verdict_diff_all_statuses(spark):
    """verdict_diff over constructed verdict frames: every transition
    status, including pairs present on only one side."""
    from use_case_real_time_anomaly_detection_spark.operators.engine import (
        verdict_diff,
    )

    cols = "partition_key string, detector string, pass boolean, violation_count long"
    prev = spark.createDataFrame(
        [
            ("p0", "range", True, 0),    # -> new-failure
            ("p0", "unique", False, 3),  # -> fixed
            ("p1", "range", False, 2),   # -> still-failing (delta +3)
            ("p1", "unique", True, 0),   # -> still-passing
            ("p2", "range", False, 1),   # -> removed (partition dropped)
        ],
        cols,
    )
    cur = spark.createDataFrame(
        [
            ("p0", "range", False, 5),
            ("p0", "unique", True, 0),
            ("p1", "range", False, 5),
            ("p1", "unique", True, 0),
            ("p3", "range", False, 7),   # -> added-failing
            ("p3", "unique", True, 0),   # -> added-passing
        ],
        cols,
    )
    got = {
        (r["partition_key"], r["detector"]): (r["status"], r["delta"])
        for r in verdict_diff(prev, cur).collect()
    }
    assert got == {
        ("p0", "range"): ("new-failure", 5),
        ("p0", "unique"): ("fixed", -3),
        ("p1", "range"): ("still-failing", 3),
        ("p1", "unique"): ("still-passing", 0),
        ("p2", "range"): ("removed", -1),
        ("p3", "range"): ("added-failing", 7),
        ("p3", "unique"): ("added-passing", 0),
    }


def test_topk_values_exact_and_deterministic(spark):
    """topk_values (functions/stats.py): exact counts, rank by
    (count DESC, value ASC), nulls excluded, k enforced per group."""
    from use_case_real_time_anomaly_detection_spark.functions.stats import (
        topk_values,
    )

    df = spark.createDataFrame(
        [("p0", "a", 1), ("p0", "a", 1), ("p0", "b", 2), ("p0", None, 2),
         ("p0", "c", None), ("p1", "b", 3)],
        "partition_key string, codec string, sr int",
    )
    out = topk_values(df, ["codec", "sr"], k=2)
    rows = {
        (r["partition_key"], r["column"], r["value"]): (r["n"], r["rank"])
        for r in out.collect()
    }
    assert rows[("p0", "codec", "a")] == (2, 1)
    assert rows[("p0", "codec", "b")] == (1, 2)
    assert ("p0", "codec", "c") in rows or rows[("p0", "codec", "b")][1] == 2
    # k=2 cap: only 2 codec rows for p0 even though 3 distinct values
    assert sum(1 for k2 in rows if k2[0] == "p0" and k2[1] == "codec") == 2
    # ties broken by value ASC: b and c both count 1 -> b wins rank 2
    assert ("p0", "codec", "c") not in rows
    # ints stringified, nulls never counted; '1' and '2' tie at count 2
    # (sr=2 appears on the b row AND the null-codec row) -> value ASC
    assert rows[("p0", "sr", "1")] == (2, 1)
    assert rows[("p0", "sr", "2")] == (2, 2)
    assert rows[("p1", "sr", "3")] == (1, 1)


def test_fail_threshold_rate_tolerance(spark, split):
    """fail_threshold gates verdicts on violation RATE; violations are
    emitted identically either way; 0.0 == exact reference semantics."""
    clips, violations, _, _ = split
    from use_case_real_time_anomaly_detection_spark.operators.engine import (
        ValidationEngine,
    )
    from use_case_real_time_anomaly_detection_spark.plans.clips import default_rules
    from use_case_real_time_anomaly_detection_spark.sources.synth import (
        SynthSpec,
        frontier_of,
        generate_manifest,
    )

    spec = SynthSpec(partitions=4, clips_per_partition=150)
    manifest = generate_manifest(spark, spec)
    eng = ValidationEngine(seq_col="seq")
    kw = dict(
        frontier=frontier_of(spec), refs={"clip_manifest": manifest}
    )
    rules = default_rules(with_audio=False, seed=spec.seed)
    strict = eng.run(clips, rules, run_id="s", **kw)
    loose = eng.run(clips, rules, run_id="l", fail_threshold=0.10, **kw)

    sv = {(r["partition_key"], r["detector"]): r for r in strict.verdicts.collect()}
    lv = {(r["partition_key"], r["detector"]): r for r in loose.verdicts.collect()}
    assert sv.keys() == lv.keys()
    # partition-level detectors emit O(1) violations per partition
    # regardless of size, so a RATE tolerance would silently disable them
    # at production row counts — they keep exact semantics
    partition_level = {"timeout", "drift-dur_ms", "drift-sr_hz"}
    flipped = 0
    for k in sv:
        s, l = sv[k], lv[k]
        # identical counts; only the verdict bit may move
        assert (s["violation_count"], s["rows_checked"]) == (
            l["violation_count"], l["rows_checked"])
        assert s["pass"] == (s["violation_count"] == 0)
        if k[1] in partition_level:
            assert l["pass"] == (s["violation_count"] == 0)
        else:
            assert l["pass"] == (
                s["violation_count"] <= 0.10 * s["rows_checked"])
        flipped += s["pass"] != l["pass"]
    assert flipped > 0  # the fixture has low-rate violating partitions

    # violations unchanged by the threshold (None-safe sort key: drift
    # rows carry NULL clip_id)
    key = lambda t: tuple("" if v is None else str(v) for v in t)
    assert sorted(map(tuple, strict.violations.collect()), key=key) == sorted(
        map(tuple, loose.violations.collect()), key=key)

    import pytest as _pytest
    with _pytest.raises(ValueError, match="fail_threshold"):
        eng.run(clips, rules, fail_threshold=1.0, **kw)


def test_batch_quarantine_supersedes_stream_dirs(spark, tmp_path):
    """An authoritative batch --quarantine pass clears the streaming
    accumulator's dirs for the partitions it validated, so
    store.quarantine()'s union can't resurrect clips the full validation
    just cleared; stream evidence for partitions OUTSIDE the batch run
    survives."""
    from use_case_real_time_anomaly_detection_spark import runner
    from use_case_real_time_anomaly_detection_spark.sources.tables import (
        ParquetCatalog,
    )
    from use_case_real_time_anomaly_detection_spark.streaming.checkpoint import (
        CheckpointStore,
    )

    ckpt = str(tmp_path / "ck")
    cat = ParquetCatalog(spark, ckpt)
    store = CheckpointStore(cat)

    # simulate a streaming wave: per-(partition, batch) quarantine dirs,
    # including one partition (zzz) the batch run will never validate
    stream_rows = spark.createDataFrame(
        [
            ("c000", "stale-clip-1", 1, "out-of-range", 0),
            ("c001", "stale-clip-2", 1, "z-score", 0),
            ("zzz", "other-corpus-clip", 1, "timeout-gap", 1),
        ],
        "partition_key string, clip_id string, n_violations long, "
        "detectors string, batch_id int",
    )
    cat.overwrite_partitions(
        stream_rows, "quarantine_stream",
        partition_by=["partition_key", "batch_id"],
    )
    assert {r["clip_id"] for r in store.quarantine().collect()} == {
        "stale-clip-1", "stale-clip-2", "other-corpus-clip",
    }

    rc = runner.main([
        "--synth", "4x120", "--no-audio", "--no-resume", "--quarantine",
        "--master", "local[8]", "--checkpoint-dir", ckpt, "--run-id", "full",
    ])
    assert rc == 0

    merged = store.quarantine()
    ids = {r["clip_id"] for r in merged.collect()}
    # stream rows for the validated partitions are gone; the foreign
    # partition's evidence survives; real batch evidence is present
    assert "stale-clip-1" not in ids and "stale-clip-2" not in ids
    assert "other-corpus-clip" in ids
    assert any(i.startswith("c00") for i in ids)  # c{part}-{seq} ids
