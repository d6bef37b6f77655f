"""Clips engine vs an independent pandas/numpy oracle.

Transposes the reference's generator-as-oracle strategy (SURVEY.md §5.1:
anomalies are prescribed, so a correct detector MUST flag the injected
events and nothing else). The oracle recomputes every rule's expected
violating clip_ids from the same deterministic plan (sources/synth.py
index arithmetic) using pandas/numpy only — no Spark.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from use_case_real_time_anomaly_detection_spark.operators.rules import IqrRule
from use_case_real_time_anomaly_detection_spark.plans.clips import (
    default_rules,
    validate_synthetic,
)
from use_case_real_time_anomaly_detection_spark.sources.synth import (
    SynthSpec,
    frontier_of,
    partition_tag,
    plan_partition,
)

SPEC = SynthSpec(partitions=6, clips_per_partition=250)


def _row_stream(p: int) -> pd.DataFrame:
    """The engine-visible row stream of a partition: plan rows with dup
    rows duplicated, ordered by seq (dup copies identical → order moot)."""
    plan = plan_partition(p, SPEC)
    dups = plan[plan["dup"]]
    return (
        pd.concat([plan, dups])
        .sort_values("seq", kind="mergesort")
        .reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def result(spark):
    res = validate_synthetic(spark, SPEC, with_audio=True)
    violations = res.violations.toPandas()
    verdicts = res.verdicts.toPandas()
    return violations, verdicts


def _flagged(violations: pd.DataFrame, detector: str) -> set:
    return set(violations[violations["detector"] == detector]["clip_id"])


def test_out_of_range_exact(result):
    violations, _ = result
    expected = set()
    for p in range(SPEC.partitions):
        plan = plan_partition(p, SPEC)
        bad = plan[(plan["dur_ms"] < 200) | (plan["dur_ms"] > 2000)]
        expected |= set(bad["clip_id"])
    assert _flagged(violations, "out-of-range") == expected
    assert expected  # injections actually present


def test_rate_of_change_exact(result):
    violations, _ = result
    expected = set()
    for p in range(SPEC.partitions):
        rows = _row_stream(p).drop_duplicates("seq")
        dur = rows["dur_ms"].to_numpy(dtype=float)
        seq = rows["seq"].to_numpy(dtype=float)
        slope = np.diff(dur) / np.diff(seq)
        hit = np.abs(slope) > 3.0
        expected |= set(rows["clip_id"].iloc[1:][hit])
    assert _flagged(violations, "rate-of-change") == expected
    assert expected


def test_gap_and_timeout_exact(result):
    violations, _ = result
    exp_gap = set()
    for p in range(SPEC.partitions):
        rows = _row_stream(p).drop_duplicates("seq")
        seq = rows["seq"].to_numpy()
        hit = np.diff(seq) > 1
        exp_gap |= set(rows["clip_id"].iloc[1:][hit])
    assert _flagged(violations, "timeout-gap") == exp_gap
    assert exp_gap

    stopped = partition_tag(SPEC.stopped_partition % SPEC.partitions)
    tmo = violations[violations["detector"] == "timeout"]
    assert set(tmo["partition_key"]) == {stopped}


def test_z_score_exact(result):
    """Rolling count-window z-score: pandas rolling oracle, exact match."""
    violations, _ = result
    expected = set()
    for p in range(SPEC.partitions):
        rows = _row_stream(p)
        x = rows["dur_ms"].astype(float)
        prev = x.shift(1)
        mean = prev.rolling(50, min_periods=10).mean()
        # population std over the same trailing frame
        std = prev.rolling(50, min_periods=10).std(ddof=0)
        z = (x - mean) / std
        hit = (std > 0) & (np.abs(z) > 2.0)
        expected |= set(rows["clip_id"][hit.fillna(False)])
    assert _flagged(violations, "z-score") == expected
    assert expected


def test_iqr_exact_mode(spark):
    """Exact-quantile mode equals the pandas linear-interpolation oracle
    (≙ quantileExact parity, SURVEY.md §4.2.5)."""
    rules = [r if not isinstance(r, IqrRule) else IqrRule("dur_ms", 1.5, exact=True) for r in default_rules(with_audio=False)]
    from use_case_real_time_anomaly_detection_spark.plans.clips import validate_clips
    from use_case_real_time_anomaly_detection_spark.sources.synth import (
        generate_clips,
        generate_manifest,
    )

    clips = generate_clips(spark, SPEC)
    manifest = generate_manifest(spark, SPEC)
    res = validate_clips(clips, manifest, frontier=frontier_of(SPEC), rules=rules)
    flagged = _flagged(res.violations.toPandas(), "interquartile-range")

    expected = set()
    for p in range(SPEC.partitions):
        rows = _row_stream(p)
        x = rows["dur_ms"].to_numpy(dtype=float)
        q1, q3 = np.percentile(x, [25, 75])
        iqr = (q3 - q1) * 1.5
        hit = (x > q3 + iqr) | (x < q1 - iqr)
        expected |= set(rows["clip_id"][hit])
    assert flagged == expected
    assert expected


def test_iqr_approx_flags_injected_outliers(result):
    """Approx-percentile fences must still catch the far-out injections."""
    violations, _ = result
    flagged = _flagged(violations, "interquartile-range")
    for p in range(SPEC.partitions):
        plan = plan_partition(p, SPEC)
        far = plan[(plan["dur_ms"] < 200) | (plan["dur_ms"] > 2000)]
        assert set(far["clip_id"]) <= flagged


def test_unique_referential_transcript(result):
    violations, _ = result
    exp_dup, exp_orphan, exp_bad_ts = set(), set(), set()
    for p in range(SPEC.partitions):
        plan = plan_partition(p, SPEC)
        exp_dup |= set(plan[plan["dup"]]["clip_id"])
        exp_orphan |= set(plan[plan["orphan"]]["clip_id"])
        exp_bad_ts |= set(
            plan[plan["bad_transcript"] & ~plan["orphan"]]["clip_id"]
        )
    assert _flagged(violations, "unique") == exp_dup
    assert _flagged(violations, "referential") == exp_orphan
    assert _flagged(violations, "transcript") == exp_bad_ts
    assert exp_dup and exp_orphan and exp_bad_ts


def test_value_sets(result):
    violations, _ = result
    exp_sr, exp_codec = set(), set()
    for p in range(SPEC.partitions):
        plan = plan_partition(p, SPEC)
        exp_sr |= set(plan[~plan["sr_hz"].isin([8000, 16000])]["clip_id"])
        exp_codec |= set(plan[~plan["codec"].isin(["pcm16", "mulaw"])]["clip_id"])
    assert _flagged(violations, "value-set-sr_hz") == exp_sr
    assert _flagged(violations, "value-set-codec") == exp_codec


def test_audio_decode(result):
    violations, _ = result
    expected = set()
    for p in range(SPEC.partitions):
        plan = plan_partition(p, SPEC)
        expected |= set(plan[plan["bad_audio"] | (plan["codec"] == "opus")]["clip_id"])
    assert _flagged(violations, "audio-decode") == expected
    assert expected


def test_drift_flags_only_drifted_partition(result):
    violations, _ = result
    dur_drift = violations[violations["detector"] == "drift-dur_ms"]
    assert set(dur_drift["partition_key"]) == {partition_tag(SPEC.drift_partition)}
    sr_drift = violations[violations["detector"] == "drift-sr_hz"]
    assert set(sr_drift["partition_key"]) == {partition_tag(SPEC.sr_drift_partition)}


def test_verdict_grid_consistency(result):
    violations, verdicts = result
    # every (partition, detector) combination present
    n_det = verdicts["detector"].nunique()
    assert len(verdicts) == SPEC.partitions * n_det
    # pass == (violation_count == 0), counts match the violations table
    counts = violations.groupby(["partition_key", "detector"]).size()
    for row in verdicts.itertuples():
        expected = counts.get((row.partition_key, row.detector), 0)
        assert row.violation_count == expected
        assert row._3 == (expected == 0)  # 'pass' is a keyword → positional


def test_metadata_pandas_equals_generated_clips(spark):
    """The pure-pandas fixture writer (oracle bootstrap path) must equal
    generate_clips minus the audio payload, row for row."""
    from use_case_real_time_anomaly_detection_spark.operators.schema import (
        with_partition_cols,
    )
    from use_case_real_time_anomaly_detection_spark.sources.synth import (
        SynthSpec,
        generate_clips,
        generate_manifest,
        manifest_pandas,
        metadata_pandas,
    )

    spec = SynthSpec(partitions=3, clips_per_partition=90)
    via_spark = {
        tuple(r)
        for r in with_partition_cols(generate_clips(spark, spec).drop("bytes")).collect()
    }
    via_pandas = {
        tuple(r) for r in metadata_pandas(spec).itertuples(index=False)
    }
    assert via_spark == via_pandas
    man_spark = {tuple(r) for r in generate_manifest(spark, spec).collect()}
    man_pandas = {tuple(r) for r in manifest_pandas(spec).itertuples(index=False)}
    assert man_spark == man_pandas


def test_speech_rate_rule_exact(spark):
    """SpeechRateRule through the full engine equals the pandas oracle:
    chars-per-second outside [12, 120] on dur_ms > 0 rows — the
    injected out-of-range durations produce inconsistent pairings."""
    from use_case_real_time_anomaly_detection_spark.operators.rules import (
        SpeechRateRule,
    )
    from use_case_real_time_anomaly_detection_spark.plans.clips import validate_clips
    from use_case_real_time_anomaly_detection_spark.sources.synth import (
        _render_rows,
        generate_clips,
        generate_manifest,
    )

    clips = generate_clips(spark, SPEC)
    manifest = generate_manifest(spark, SPEC)
    res = validate_clips(
        clips, manifest, frontier=frontier_of(SPEC), rules=[SpeechRateRule()]
    )
    flagged = _flagged(res.violations.toPandas(), "speech-rate")

    expected = set()
    for p in range(SPEC.partitions):
        rows = _render_rows(p, SPEC)
        dur = rows["dur_ms"].to_numpy(dtype=float)
        nch = rows["transcript"].str.len().to_numpy(dtype=float)
        with np.errstate(divide="ignore", invalid="ignore"):
            cps = np.where(dur > 0, nch * 1000.0 / dur, np.nan)
        hit = (dur > 0) & ((cps < 12.0) | (cps > 120.0))
        expected |= set(rows["clip_id"][hit])
    assert flagged == expected
    assert expected  # injections actually produce inconsistent pairings


def test_speech_rate_rule_validates_bounds():
    import pytest as _pytest

    from use_case_real_time_anomaly_detection_spark.operators.rules import (
        SpeechRateRule,
    )

    with _pytest.raises(ValueError):
        SpeechRateRule(min_cps=10, max_cps=10)
    with _pytest.raises(ValueError):
        SpeechRateRule(min_cps=-1, max_cps=5)


def test_payload_size_rule_flags_truncation_without_decode(spark):
    """PayloadSizeRule: byte-length vs declared (codec, sr_hz, dur_ms) —
    the JVM-only pre-gate in front of the Arrow decode. Planted
    truncations/paddings are flagged exactly; the untouched corpus
    passes clean (every synth payload satisfies the encoder contract
    header + bps * round(sr*dur/1000)); unknown codecs and NULL payloads
    are not evaluated (owned by ValueSetRule / NotNullRule); and the
    rule fuses into the single scan (no BatchEvalPython, no extra scan)."""
    from pyspark.sql import functions as F

    from use_case_real_time_anomaly_detection_spark.operators.rules import (
        PayloadSizeRule,
    )
    from use_case_real_time_anomaly_detection_spark.plans.clips import (
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
    seq = F.substring("clip_id", 6, 9).cast("long")
    corrupted = clips.withColumn(
        "bytes",
        F.when(seq % 37 == 3, F.expr("substring(bytes, 1, 10)"))  # truncate
        .when(seq % 37 == 5, F.concat(F.col("bytes"), F.lit(b"\x00\x00")))  # pad
        .when(seq % 37 == 7, F.lit(None).cast("binary"))  # NULL: not evaluated
        .otherwise(F.col("bytes")),
    )
    res = validate_clips(
        corrupted, manifest, frontier=frontier_of(spec),
        rules=[PayloadSizeRule()],
    )
    pdf = res.violations.toPandas()
    flagged = set(pdf[pdf["detector"] == "payload-size"]["clip_id"])

    rows = clips.select("clip_id", "codec").toPandas()
    s = rows["clip_id"].str.slice(5).astype(int)
    known = rows["codec"].isin(["pcm16", "mulaw"])
    expected = set(rows["clip_id"][((s % 37 == 3) | (s % 37 == 5)) & known])
    assert flagged == expected
    assert expected  # the plant actually hit known-codec clips

    # clean corpus passes with zero violations
    clean = validate_clips(
        clips, manifest, frontier=frontier_of(spec), rules=[PayloadSizeRule()]
    )
    assert clean.violations.count() == 0

    # fused row-local: one scan, no Python in the plan
    plan = res.violations._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan

    # note carries both sides of the mismatch (triage-ready)
    one = pdf[pdf["detector"] == "payload-size"].iloc[0]["note"]
    assert "expected_bytes:" in one and "found_bytes:" in one


def test_payload_size_rule_validates_config():
    import pytest as _pytest

    from use_case_real_time_anomaly_detection_spark.operators.rules import (
        PayloadSizeRule,
    )

    with _pytest.raises(ValueError, match="non-empty"):
        PayloadSizeRule(codec_sizes=())
    with _pytest.raises(ValueError, match="triples|entries"):
        PayloadSizeRule(codec_sizes=(("pcm16", 44),))


def _levenshtein(a: str, b: str) -> int:
    """Plain DP edit distance — the independent oracle for the
    TranscriptDistanceRule (no Spark, no duckdb)."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_transcript_distance_rule(spark):
    """Levenshtein-tolerance transcript rule vs a pure-python DP oracle:
    exact flag sets at three tolerances, max_distance=0 ≡ the exact
    TranscriptRule, NULL transcript against a non-NULL expectation is a
    violation at any tolerance, and the note carries the measured
    distance. Plan stays JVM-only (codegen'd levenshtein)."""
    from use_case_real_time_anomaly_detection_spark.operators.engine import (
        ValidationEngine,
    )
    from use_case_real_time_anomaly_detection_spark.operators.rules import (
        TranscriptDistanceRule,
        TranscriptRule,
    )
    from use_case_real_time_anomaly_detection_spark.sources.synth import (
        frontier_of,
        manifest_pandas,
        metadata_pandas,
    )

    spec = SynthSpec(partitions=3, clips_per_partition=120)
    meta = metadata_pandas(spec)
    man = manifest_pandas(spec)
    # plant one NULL transcript on a manifest-covered row
    covered_idx = meta[meta["clip_id"].isin(set(man["clip_id"]))].index[0]
    null_cid = meta.loc[covered_idx, "clip_id"]
    meta.loc[covered_idx, "transcript"] = None

    expected = man.set_index("clip_id")["expected_transcript"]
    dists = {
        cid: (None if t is None else _levenshtein(t, expected[cid]))
        for cid, t in zip(meta["clip_id"], meta["transcript"])
        if cid in expected.index
    }

    engine = ValidationEngine(
        key_col="clip_id", partition_col="partition_key", seq_col="seq"
    )
    meta_df = spark.createDataFrame(meta)
    man_df = spark.createDataFrame(man)

    def run(rules):
        res = engine.run(
            meta_df, rules, frontier=frontier_of(spec),
            refs={"clip_manifest": man_df},
        )
        return res.violations

    flagged = {}
    for k in (0, 20, 10**6):
        v = run([TranscriptDistanceRule(max_distance=k)])
        pdf = v.toPandas()
        got = _flagged(pdf, "transcript-distance")
        want = {cid for cid, d in dists.items() if d is None or d > k}
        assert got == want, f"max_distance={k}"
        flagged[k] = got
        if k == 20:
            # note carries the measured distance and both bounds
            row = pdf[pdf["clip_id"] != null_cid].iloc[0]
            d = dists[row["clip_id"]]
            assert row["note"].startswith(f"edit_distance:{d}| max_distance:20|")
            assert expected[row["clip_id"]] in row["note"]
            nrow = pdf[pdf["clip_id"] == null_cid].iloc[0]
            assert nrow["note"].startswith("edit_distance:null|")
            # plan stays JVM-only
            plan = v._jdf.queryExecution().executedPlan().toString()
            assert "BatchEvalPython" not in plan

    # max_distance=0 degenerates to the exact rule (same violation set)
    exact = _flagged(run([TranscriptRule()]).toPandas(), "transcript")
    assert flagged[0] == exact | {null_cid}
    # the tolerance is discriminating on the planted corruptions:
    # everything real is caught at 0, only the null row survives to 1e6
    assert flagged[10**6] == {null_cid}
    assert flagged[10**6] <= flagged[20] <= flagged[0]

    # exact + distance rules fused in ONE run share the manifest join
    # (regression: duplicate __ref_ alias was ambiguous)
    both = run([TranscriptRule(), TranscriptDistanceRule(max_distance=20)])
    pdf = both.toPandas()
    assert _flagged(pdf, "transcript") == exact
    assert _flagged(pdf, "transcript-distance") == flagged[20]


def test_transcript_distance_rule_validates_config():
    import pytest as _pytest

    from use_case_real_time_anomaly_detection_spark.operators.rules import (
        TranscriptDistanceRule,
    )

    with _pytest.raises(ValueError, match=">= 0"):
        TranscriptDistanceRule(max_distance=-1)


def test_payload_size_rule_skips_null_metadata(spark):
    """NULL sr_hz/dur_ms must NOT be evaluated by PayloadSizeRule
    (NotNullRule owns null policy): Spark's greatest() skips NULLs, so
    without the explicit guard a NULL rate would collapse n_samples to 1
    and false-flag an intact payload."""
    from use_case_real_time_anomaly_detection_spark.operators.engine import (
        ValidationEngine,
    )
    from use_case_real_time_anomaly_detection_spark.operators.rules import (
        PayloadSizeRule,
    )

    # 44-byte header + 2 bytes/sample * 8 samples = 60 bytes, intact
    payload = bytes(60)
    rows = [
        ("ok-row", bytes(44 + 2 * 8000), "pcm16", 8000, 1000, "p0", 0),
        ("null-sr", payload, "pcm16", None, 1000, "p0", 1),
        ("null-dur", payload, "pcm16", 8000, None, "p0", 2),
        ("truncated", bytes(10), "pcm16", 8000, 1000, "p0", 3),
    ]
    df = spark.createDataFrame(
        rows,
        "clip_id string, bytes binary, codec string, sr_hz int, "
        "dur_ms int, partition_key string, seq long",
    )
    engine = ValidationEngine(
        key_col="clip_id", partition_col="partition_key", seq_col="seq"
    )
    v = engine.run(df, [PayloadSizeRule()]).violations.collect()
    assert {r["clip_id"] for r in v} == {"truncated"}


def test_payload_size_composes_with_audio_rules(spark):
    """PayloadSizeRule + audio rules in ONE ruleset (the full-surface
    deployment: size gate in front of the decode): the octet length is
    captured before the Arrow pass drops the payload column, so the
    composition compiles and the size verdicts equal the rule evaluated
    alone. Regression: this raised UNRESOLVED_COLUMN `bytes` before r4's
    pre-pass capture."""
    from pyspark.sql import functions as F

    from use_case_real_time_anomaly_detection_spark.operators.rules import (
        AudioDecodeRule,
        AudioQcRule,
        PayloadSizeRule,
    )
    from use_case_real_time_anomaly_detection_spark.plans.clips import (
        validate_clips,
    )
    from use_case_real_time_anomaly_detection_spark.sources.synth import (
        generate_clips,
        generate_manifest,
    )

    spec = SynthSpec(partitions=2, clips_per_partition=60)
    clips = generate_clips(spark, spec)
    # plant one truncated payload so the size detector has a violation
    clips = clips.withColumn(
        "bytes",
        F.when(
            F.col("clip_id") == "c000-000000005",
            F.expr("substring(bytes, 1, 100)"),
        ).otherwise(F.col("bytes")),
    )
    manifest = generate_manifest(spark, spec)

    def run(rules):
        res = validate_clips(
            clips, manifest, frontier=frontier_of(spec), rules=rules
        )
        return (
            res.violations.filter(F.col("detector") == "payload-size")
            .orderBy("clip_id")
            .toPandas()
        )

    alone = run([PayloadSizeRule()])
    composed = run([PayloadSizeRule(), AudioDecodeRule(), AudioQcRule()])
    assert alone["clip_id"].tolist() == ["c000-000000005"]
    assert alone.values.tolist() == composed.values.tolist()


def test_ref_match_rule(spark):
    """RefMatchRule: engine flags exactly the planted MOD_BADMETA clips
    (manifest's expected_codec diverges from the delivered codec); sr_hz
    never diverges in the fixture; manifest-absent keys (orphans) are
    skipped; NULL-safe semantics flag NULL-vs-value but not NULL-vs-NULL;
    both rules share ONE manifest scan with the transcript rule."""
    import pandas as pd
    from pyspark.sql import functions as F

    from use_case_real_time_anomaly_detection_spark.operators.rules import (
        RefMatchRule,
        TranscriptRule,
    )
    from use_case_real_time_anomaly_detection_spark.plans.clips import (
        validate_clips,
    )
    from use_case_real_time_anomaly_detection_spark.sources.synth import (
        MOD_BADMETA,
        generate_clips,
        generate_manifest,
        plan_partition,
    )

    res = validate_clips(
        generate_clips(spark, SPEC),
        generate_manifest(spark, SPEC),
        frontier=frontier_of(SPEC),
        rules=[RefMatchRule("codec"), RefMatchRule("sr_hz"), TranscriptRule()],
    )
    got = res.violations.toPandas()
    expected = set()
    for p in range(SPEC.partitions):
        plan = plan_partition(p, SPEC)
        hit = (
            (plan["seq"] % MOD_BADMETA[0] == MOD_BADMETA[1])
            & plan["codec"].isin(["pcm16", "mulaw"])
            & ~plan["orphan"]  # no manifest row -> RefIntegrityRule's case
        )
        expected |= set(plan[hit]["clip_id"])
    assert _flagged(got, "ref-match-codec") == expected
    assert expected  # the plant actually selects clips at this spec
    assert _flagged(got, "ref-match-sr_hz") == set()

    # one scan of the manifest serves transcript + both match rules
    plan_s = res.violations._sc._jvm.PythonSQLUtils.explainString(
        res.violations._jdf.queryExecution(), "simple"
    )
    # AQE prints Final + Initial trees; count the final one only
    final = plan_s.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 2  # clips gen + manifest gen

    # NULL-safe semantics on a hand-built pair
    t = spark.createDataFrame(
        [("a-000000001", "x", 1), ("a-000000002", None, 2),
         ("a-000000003", None, 3)],
        "clip_id string, v string, seq long",
    ).withColumn("partition_key", F.lit("a-00"))
    m = spark.createDataFrame(
        [("a-000000001", "x"), ("a-000000002", "y"), ("a-000000003", None)],
        "clip_id string, expected_v string",
    )
    from use_case_real_time_anomaly_detection_spark.operators.compiler import (
        compile_rules,
    )

    plan = compile_rules(
        t, [RefMatchRule("v", ref_column="expected_v")],
        refs={"clip_manifest": m}, seq_col="seq",
    )
    rows = plan.violations.toPandas()
    assert rows["clip_id"].tolist() == ["a-000000002"]  # NULL vs 'y' flags
    assert rows["observed"].tolist() == ["NULL"]
