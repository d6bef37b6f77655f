"""WARN-severity detectors: violations recorded, verdicts not failed,
clips not quarantined — the advisory tier of a data-quality engine
(rule evaluation is identical; only the gating consequences change).
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from use_case_real_time_anomaly_detection_spark.operators.config import warn_from_config
from use_case_real_time_anomaly_detection_spark.operators.engine import (
    ValidationEngine,
    quarantine_split,
)
from use_case_real_time_anomaly_detection_spark.operators.rules import (
    NotNullRule,
    RangeRule,
)


@pytest.fixture()
def frame(spark):
    rows = [
        ("p0", "c0", 50),    # out-of-range (min 100)
        ("p0", "c1", 150),   # clean
        ("p0", "c2", None),  # not-null violation
        ("p1", "c3", 10),    # out-of-range
    ]
    return spark.createDataFrame(
        rows, "partition_key string, clip_id string, dur_ms int"
    )


RULES = [RangeRule("dur_ms", min_value=100), NotNullRule("dur_ms")]


def test_warned_detector_passes_but_keeps_evidence(spark, frame):
    eng = ValidationEngine(key_col="clip_id", partition_col="partition_key")
    res = eng.run(frame, RULES, warn_detectors=("out-of-range",))
    # evidence identical to an error-severity run
    viol = {(r.partition_key, r.clip_id, r.detector) for r in res.violations.collect()}
    assert viol == {
        ("p0", "c0", "out-of-range"),
        ("p0", "c2", "not-null"),
        ("p1", "c3", "out-of-range"),
    }
    v = {
        (r.partition_key, r.detector): (r["pass"], r.violation_count)
        for r in res.verdicts.collect()
    }
    # warned detector: pass=True with the exact nonzero count preserved
    assert v[("p0", "out-of-range")] == (True, 1)
    assert v[("p1", "out-of-range")] == (True, 1)
    # non-warned detector still fails normally
    assert v[("p0", "not-null")] == (False, 1)
    assert v[("p1", "not-null")] == (True, 0)


def test_unknown_warn_detector_raises(spark, frame):
    eng = ValidationEngine(key_col="clip_id", partition_col="partition_key")
    with pytest.raises(ValueError, match="out-of-rnage"):
        eng.run(frame, RULES, warn_detectors=("out-of-rnage",))


def test_warned_violations_do_not_quarantine(spark, frame):
    eng = ValidationEngine(key_col="clip_id", partition_col="partition_key")
    res = eng.run(frame, RULES, warn_detectors=("out-of-range",))
    clean, quar = quarantine_split(
        frame, res, warn_detectors=("out-of-range",)
    )
    # only the not-null clip is quarantined; warned clips stay in corpus
    assert {r.clip_id for r in quar.collect()} == {"c2"}
    assert {r.clip_id for r in clean.collect()} == {"c0", "c1", "c3"}


def test_warn_config_parse_and_validation():
    assert warn_from_config({"rules": []}) == ()
    assert warn_from_config({"warn_detectors": ["a", "b"]}) == ("a", "b")
    with pytest.raises(ValueError, match="warn_detectors"):
        warn_from_config({"warn_detectors": "a"})
    with pytest.raises(ValueError, match="warn_detectors"):
        warn_from_config({"warn_detectors": ["a", ""]})


def test_runner_warn_flag_and_document_union(spark, tmp_path, capsys):
    """End-to-end: a ruleset document demoting out-of-range plus a
    --warn demotion of not-null — verdicts all pass, evidence intact,
    quarantine empty of warned clips, run exits 0."""
    from use_case_real_time_anomaly_detection_spark import runner

    frame_rows = [
        ("c000", "c000-000000000", 50),
        ("c000", "c000-000000001", None),
    ]
    spark.createDataFrame(
        frame_rows, "partition_key string, clip_id string, dur_ms int"
    ).createOrReplaceTempView("v")
    # materialize a minimal clips table matching the declared schema in
    # the ruleset document (schema key overrides the audio contract)
    clips = spark.sql("SELECT clip_id, dur_ms, partition_key FROM v")
    clips.write.parquet(str(tmp_path / "clips"))
    spark.createDataFrame(
        [("c000-000000000",), ("c000-000000001",)], "clip_id string"
    ).write.parquet(str(tmp_path / "manifest"))

    doc = {
        "rules": [
            {"type": "range", "column": "dur_ms", "min_value": 100},
            {"type": "not_null", "column": "dur_ms"},
        ],
        "schema": {
            "columns": [
                {"name": "clip_id", "dtype": "string"},
                {"name": "dur_ms", "dtype": "int"},
                {"name": "partition_key", "dtype": "string"},
            ]
        },
        "warn_detectors": ["out-of-range"],
    }
    (tmp_path / "rules.json").write_text(json.dumps(doc))

    rc = runner.main([
        "--clips", str(tmp_path / "clips"),
        "--manifest", str(tmp_path / "manifest"),
        "--rules", str(tmp_path / "rules.json"),
        "--warn", "not-null",
        "--quarantine", "--no-audio", "--master", "local[8]",
        "--checkpoint-dir", str(tmp_path / "ckpt"),
    ])
    assert rc == 0
    lin = spark.read.parquet(str(tmp_path / "ckpt" / "lineage"))
    assert lin.filter(~F.col("pass")).count() == 0
    assert lin.filter(F.col("violation_count") > 0).count() == 2
    viol = spark.read.parquet(str(tmp_path / "ckpt" / "violations"))
    assert viol.count() == 2
    quar = spark.read.parquet(str(tmp_path / "ckpt" / "quarantine"))
    assert quar.filter(F.col("clip_id").isNotNull()).count() == 0
