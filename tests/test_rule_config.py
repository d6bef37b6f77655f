"""Declarative ruleset config (operators/config.py).

The reference deploys detectors as declarative .pipe files with template
parameters and {{ error(...) }} validation; this is the engine's
equivalent surface, so the contract is (a) exact round-trip, (b) every
invalid config fails at CONFIG time, (c) a config-built rule set drives
the engine identically to the hand-built one.
"""

import json

import pytest

from use_case_real_time_anomaly_detection_spark.operators.config import (
    RULE_TYPES,
    dump_ruleset,
    rules_from_config,
    rules_to_config,
)
from use_case_real_time_anomaly_detection_spark.operators.rules import (
    IqrRule,
    RangeRule,
    ValueSetRule,
    ZScoreRule,
)
from use_case_real_time_anomaly_detection_spark.plans.clips import default_rules


def test_roundtrip_default_ruleset_exact():
    rules = default_rules(with_audio=True)
    cfg = rules_to_config(rules)
    # the document is pure JSON (what a checked-in ruleset file must be)
    rebuilt = rules_from_config(json.loads(json.dumps(cfg)))
    assert rebuilt == rules  # frozen dataclasses → field-wise equality


def test_every_rule_type_roundtrips():
    # one instance per registered type, defaults where possible
    samples = []
    for tag, cls in sorted(RULE_TYPES.items()):
        if tag == "range":
            samples.append(cls("dur_ms", 1, 2))
        elif tag == "pattern":
            samples.append(cls("transcript", "^[a-z ]+$"))
        elif tag == "value_set":
            samples.append(cls("codec", allowed=("pcm16",)))
        elif tag == "ref_integrity":
            samples.append(cls("clip_id", ref_table="m", ref_column="clip_id"))
        elif tag == "ref_match":
            samples.append(cls("codec"))
        elif tag == "aggregate":
            samples.append(cls("dur_ms", agg="null_rate", max_value=0.05))
        elif tag == "cusum":
            samples.append(cls("dur_ms", target=1000.0, k=150.0, h=2500.0))
        elif tag == "ewma":
            samples.append(cls("dur_ms", target=1000.0, sigma=130.0))
        elif tag == "predicate":
            samples.append(cls("codec <> 'mulaw' OR sr_hz = 8000"))
        elif tag == "entropy":
            samples.append(cls("codec", min_entropy=0.1))
        elif tag == "volume":
            samples.append(cls(min_rows=10))
        elif tag in (
            "not_null", "rate_of_change", "z_score", "iqr", "mad", "drift",
            "calibrated_range", "monotonic", "seasonal", "cat_drift",
            "benford", "reconciliation",
        ):
            samples.append(cls("dur_ms"))
        else:
            samples.append(cls())
    assert rules_from_config(rules_to_config(samples)) == samples


def test_bare_list_and_wrapped_forms_equivalent():
    entries = [{"type": "range", "column": "dur_ms", "min_value": 1}]
    assert rules_from_config(entries) == rules_from_config({"rules": entries})


def test_json_arrays_become_tuples():
    (r,) = rules_from_config(
        [{"type": "value_set", "column": "codec", "allowed": ["pcm16", "mulaw"]}]
    )
    assert r == ValueSetRule("codec", allowed=("pcm16", "mulaw"))


def test_unknown_type_and_field_fail_at_config_time():
    with pytest.raises(ValueError, match="unknown rule type 'zscore'"):
        rules_from_config([{"type": "zscore", "column": "x"}])
    with pytest.raises(ValueError, match="unknown field 'treshold'"):
        rules_from_config([{"type": "z_score", "column": "x", "treshold": 3}])
    with pytest.raises(ValueError, match="needs a 'type' key"):
        rules_from_config([{"column": "x"}])
    with pytest.raises(ValueError, match="list"):
        rules_from_config({"detectors": []})


def test_constructor_validation_fires_from_config():
    # ≙ {{ error('You need to define at least one of ...') }}
    with pytest.raises(ValueError, match="at least one of min_value/max_value"):
        rules_from_config([{"type": "range", "column": "dur_ms"}])
    with pytest.raises(ValueError, match="min_cps < max_cps"):
        rules_from_config(
            [{"type": "speech_rate", "min_cps": 9.0, "max_cps": 2.0}]
        )


def test_file_roundtrip_and_engine_equivalence(spark, tmp_path):
    """A config-built rule set drives the engine to the same violations
    as the identical hand-built one (one fused run each, no-audio subset
    to keep it cheap)."""
    from use_case_real_time_anomaly_detection_spark.operators.engine import (
        ValidationEngine,
    )
    from use_case_real_time_anomaly_detection_spark.operators.schema import (
        with_partition_cols,
    )
    from use_case_real_time_anomaly_detection_spark.sources.synth import (
        SynthSpec,
        frontier_of,
        generate_clips,
    )

    hand = [
        RangeRule("dur_ms", 200, 2000),
        ZScoreRule("dur_ms", threshold=2.0, window=50, min_periods=10),
        IqrRule("dur_ms", multiplier=1.5),
    ]
    path = str(tmp_path / "ruleset.json")
    dump_ruleset(hand, path)
    with open(path, encoding="utf-8") as f:
        loaded = rules_from_config(json.load(f))
    assert loaded == hand

    spec = SynthSpec(partitions=4, clips_per_partition=200)
    clips = with_partition_cols(generate_clips(spark, spec))
    eng = ValidationEngine(seq_col="seq")
    got = eng.run(clips, loaded, frontier=frontier_of(spec), run_id="cfg").violations
    want = eng.run(clips, hand, frontier=frontier_of(spec), run_id="hand").violations
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert want.count() > 0  # the fixture plants violations; prove non-vacuous


def test_shipped_rulesets_load_and_run(spark):
    """The two checked-in ruleset files (rulesets/clips.json,
    rulesets/clips-strict.json) are the documented deployment surface —
    pin that they (a) pass config-time validation, (b) the full-surface
    strict set drives validate_clips end-to-end on a synthetic corpus,
    evaluating every declared detector including the newest families
    (monotonic/seasonal/cat_drift/entropy/ewma/fd) and the W1 drift
    fence."""
    from use_case_real_time_anomaly_detection_spark.operators.config import (
        load_ruleset_document,
    )
    from use_case_real_time_anomaly_detection_spark.plans.clips import (
        validate_clips,
    )
    from use_case_real_time_anomaly_detection_spark.operators.schema import (
        with_partition_cols,
    )
    from use_case_real_time_anomaly_detection_spark.sources.synth import (
        SynthSpec,
        frontier_of,
        generate_clips,
        generate_manifest,
    )

    rules_basic, _, _ = load_ruleset_document("rulesets/clips.json")
    assert len(rules_basic) > 5
    rules, schema, warn = load_ruleset_document("rulesets/clips-strict.json")
    assert schema is not None
    drift_dur = next(
        r for r in rules if getattr(r, "detector", "") == "drift-dur_ms"
    )
    assert drift_dur.w1_threshold == 300.0

    spec = SynthSpec(partitions=4, clips_per_partition=150)
    clips = with_partition_cols(generate_clips(spark, spec))
    manifest = generate_manifest(spark, spec)
    res = validate_clips(
        clips, manifest, frontier=frontier_of(spec), rules=rules,
        run_id="strict", warn_detectors=warn,
    )
    evaluated = {r["detector"] for r in res.verdicts.select("detector").distinct().collect()}
    for d in (
        "monotonic-seq", "seasonal-dur_ms", "cat-drift-sr_hz", "entropy-sr_hz",
        "ewma", "functional-dependency", "drift-dur_ms", "audio-decode",
        "benford-dur_ms", "volume", "reconcile-clip_id",
    ):
        assert d in evaluated, d
    # the fixture plants violations; the strict set must catch some
    assert res.violations.count() > 0
    # the planted +300 ms dur drift trips the value-units W1 fence too
    w1_notes = [
        r["note"]
        for r in res.violations.filter("detector = 'drift-dur_ms'").collect()
    ]
    assert w1_notes and all("w1_threshold:300" in n for n in w1_notes)


def test_schema_contract_pass_and_column_order(spark):
    from use_case_real_time_anomaly_detection_spark.operators.schema import (
        CLIPS_TABLE_SCHEMA,
        enforce_schema,
        with_partition_cols,
    )
    from use_case_real_time_anomaly_detection_spark.sources.synth import (
        SynthSpec,
        generate_clips,
    )

    clips = with_partition_cols(generate_clips(spark, SynthSpec(2, 20)))
    shuffled = clips.select(*reversed(clips.columns))
    out = enforce_schema(shuffled, CLIPS_TABLE_SCHEMA)
    # declared columns first, in declared order; extras preserved after
    assert out.columns[:6] == [
        "clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"
    ]
    assert set(out.columns) == set(clips.columns)
    # each layout column is derived only when absent: a real seq survives
    kept = with_partition_cols(
        spark.createDataFrame([("c007-000000003", 42)], "clip_id string, seq long")
    )
    assert tuple(kept.select("partition_key", "seq").first()) == ("c007", 42)


def test_schema_contract_reports_every_defect(spark):
    from use_case_real_time_anomaly_detection_spark.operators.schema import (
        ColumnSpec,
        SchemaMismatch,
        TableSchema,
        check_schema,
        enforce_schema,
    )

    df = spark.createDataFrame(
        [("a", 1, "x")], "clip_id string, sr_hz bigint, stray string"
    )
    schema = TableSchema(
        columns=(
            ColumnSpec("clip_id", "string"),
            ColumnSpec("sr_hz", "int"),      # mis-typed (bigint)
            ColumnSpec("dur_ms", "int"),     # missing
        ),
        allow_extra=False,                   # 'stray' is extra
    )
    problems = check_schema(df, schema)
    assert len(problems) == 3
    assert any("expected int, got bigint" in p for p in problems)
    assert any("missing column 'dur_ms'" in p for p in problems)
    assert any("extra column 'stray'" in p for p in problems)
    with pytest.raises(SchemaMismatch) as ei:
        enforce_schema(df, schema)
    assert ei.value.problems == problems  # ALL defects in one failure


def test_schema_roundtrips_through_ruleset_document(tmp_path):
    import json as _json

    from use_case_real_time_anomaly_detection_spark.operators.config import (
        load_ruleset_document,
        rules_to_config,
    )
    from use_case_real_time_anomaly_detection_spark.operators.schema import (
        CLIPS_TABLE_SCHEMA,
    )

    doc = rules_to_config(default_rules(with_audio=False))
    doc["schema"] = CLIPS_TABLE_SCHEMA.to_config()
    doc["warn_detectors"] = ["z-score"]
    path = tmp_path / "ruleset.json"
    path.write_text(_json.dumps(doc))
    rules, schema, warn = load_ruleset_document(str(path))
    assert schema == CLIPS_TABLE_SCHEMA
    assert rules == default_rules(with_audio=False)
    assert warn == ("z-score",)
