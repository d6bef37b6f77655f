"""AggregateRule + CompletenessRule vs pandas oracles.

AggregateRule is the north rule's "column-stat profiling as constraints"
made fenceable (≙ the stats layer of tinybird/pipes/iqr.pipe:26-37);
CompletenessRule is the inverse direction of RefIntegrityRule — rows that
SHOULD exist but don't, which no row-scan rule can flag.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from use_case_real_time_anomaly_detection_spark.operators.compiler import compile_rules
from use_case_real_time_anomaly_detection_spark.operators.engine import ValidationEngine
from use_case_real_time_anomaly_detection_spark.operators.rules import (
    AggregateRule,
    CompletenessRule,
)


def _frame(spark):
    # p0: clean uniform; p1: high nulls + collapsed distinct; p2: hot avg
    rows = []
    for i in range(40):
        rows.append(("p0", f"a{i:03d}", float(i % 10) + 0.25))
    for i in range(40):
        rows.append(("p1", f"b{i:03d}", 7.0 if i % 2 else None))
    for i in range(40):
        rows.append(("p2", f"c{i:03d}", 500.0 + i))
    return spark.createDataFrame(
        rows, "partition_key string, clip_id string, value double"
    )


RULES = [
    AggregateRule("value", agg="avg", min_value=1.0, max_value=100.0),
    AggregateRule("value", agg="null_rate", max_value=0.1),
    AggregateRule("value", agg="distinct", min_value=5),
    AggregateRule("value", agg="max", max_value=520.0),
    AggregateRule("value", agg="count", min_value=30),
]


def test_aggregate_rule_matches_pandas_oracle(spark):
    df = _frame(spark)
    got = {
        (r["partition_key"], r["detector"]): float(r["observed"])
        for r in compile_rules(df, RULES).violations.collect()
    }
    pdf = df.toPandas()
    expected = {}
    for pk, g in pdf.groupby("partition_key"):
        v = g["value"]
        stats = {
            "agg-avg-value": v.mean(),
            "agg-null_rate-value": v.isna().mean(),
            "agg-distinct-value": float(v.dropna().nunique()),
            "agg-max-value": v.max(),
            "agg-count-value": float(v.count()),
        }
        for r in RULES:
            s = stats[r.detector]
            if (r.min_value is not None and s < r.min_value) or (
                r.max_value is not None and s > r.max_value
            ):
                expected[(pk, r.detector)] = s
    assert got.keys() == expected.keys()
    for k, v in expected.items():
        assert math.isclose(got[k], round(v, 4), abs_tol=1e-9), (k, got[k], v)
    # sanity on the scenario itself: each planted defect fired
    assert ("p1", "agg-null_rate-value") in got
    assert ("p1", "agg-distinct-value") in got
    assert ("p2", "agg-avg-value") in got
    assert ("p2", "agg-max-value") in got
    assert ("p0", "agg-avg-value") not in got


def test_aggregate_rule_is_partition_level_and_null_keyed(spark):
    plan = compile_rules(_frame(spark), RULES)
    assert set(plan.partition_level) == {r.detector for r in RULES}
    assert all(
        r["clip_id"] is None
        for r in plan.violations.select("clip_id").collect()
    )


def test_aggregate_rules_fuse_into_one_scan(spark, tmp_path):
    """All declared fences ride the ONE partition-stats aggregation —
    adding a bound must never add a corpus read (the round-2 20-FileScan
    class): compiling one fence or all of them runs the same jobs, and
    the fences filter the collected stats rows, so the violations plan
    reads no file at all."""
    p = str(tmp_path / "t.parquet")
    _frame(spark).write.parquet(p)
    sc = spark.sparkContext
    jobs = []
    fused = [r for r in RULES if r.agg != "distinct"]  # distinct adds an exchange
    for group, rules in (("agg-one", fused[:1]), ("agg-all", fused)):
        sc.setJobGroup(group, "aggregate fence probe")
        try:
            plan = compile_rules(spark.read.parquet(p), rules)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert jobs[0] == jobs[1], jobs
    phys = plan.violations._jdf.queryExecution().executedPlan().toString()
    assert phys.count("Scan parquet") == 0, phys


def test_aggregate_rule_validates_config():
    with pytest.raises(ValueError, match="agg must be one of"):
        AggregateRule("value", agg="median", max_value=1.0)
    with pytest.raises(ValueError, match="at least one of"):
        AggregateRule("value", agg="avg")


def test_completeness_flags_missing_and_whole_partitions(spark):
    df = _frame(spark)
    manifest = spark.createDataFrame(
        [("p0", "a000"), ("p0", "a999"), ("p9", "z000"), ("p9", "z001")],
        "partition_key string, clip_id string",
    )
    plan = compile_rules(
        df,
        [CompletenessRule(ref_table="m")],
        refs={"m": manifest},
    )
    got = {
        (r["partition_key"], r["clip_id"])
        for r in plan.violations.collect()
    }
    assert got == {("p0", "a999"), ("p9", "z000"), ("p9", "z001")}
    # the wholly-missing partition enters the verdict grid at 0 rows
    rc = {r["partition_key"]: r["rows_checked"] for r in plan.rows_checked.collect()}
    assert rc["p9"] == 0 and rc["p0"] == 40


def test_completeness_requires_partition_col_on_manifest(spark):
    df = _frame(spark)
    bare = spark.createDataFrame([("a000",)], "clip_id string")
    with pytest.raises(ValueError, match="must expose the partition column"):
        compile_rules(df, [CompletenessRule(ref_table="m")], refs={"m": bare})
    with pytest.raises(ValueError, match="unknown ref table"):
        compile_rules(df, [CompletenessRule(ref_table="nope")], refs={})


def test_engine_verdicts_cover_missing_partition_and_exempt_agg_rules(spark):
    """End-to-end: a wholly-missing partition FAILS its completeness
    verdict (it can't pass by absence), and aggregate fences ignore the
    rate tolerance (partition-level exemption) while completeness rows
    honor it."""
    df = _frame(spark)
    manifest = spark.createDataFrame(
        # p1 manifest: the 40 real clips + 1 missing → completeness rate
        # 1/41 < 10% tolerance → p1 completeness PASSES under tolerance
        [("p1", f"b{i:03d}") for i in range(40)]
        + [("p1", "b999")]
        + [("p9", "z000")],
        "partition_key string, clip_id string",
    )
    eng = ValidationEngine()
    res = eng.run(
        df,
        [
            AggregateRule("value", agg="null_rate", max_value=0.1),
            CompletenessRule(ref_table="m"),
        ],
        refs={"m": manifest},
        fail_threshold=0.09,
    )
    verdicts = {
        (r["partition_key"], r["detector"]): (r["pass"], r["rows_checked"])
        for r in res.verdicts.collect()
    }
    # agg fence: p1's 50% null rate fails despite the 9% tolerance
    assert verdicts[("p1", "agg-null_rate-value")][0] is False
    # completeness under tolerance: 1 missing of 40 checked rows → pass
    assert verdicts[("p1", "completeness")][0] is True
    # wholly-missing partition: in the grid, rows_checked 0, fails
    assert verdicts[("p9", "completeness")] == (False, 0)
    assert verdicts[("p0", "completeness")][0] is True


def test_config_roundtrip_new_rules():
    from use_case_real_time_anomaly_detection_spark.operators.config import (
        rules_from_config,
        rules_to_config,
    )

    rules = [
        AggregateRule("dur_ms", agg="null_rate", max_value=0.05),
        AggregateRule("sr_hz", agg="distinct", min_value=1, max_value=4),
        CompletenessRule(column="clip_id", ref_table="clip_manifest"),
    ]
    assert rules_from_config(rules_to_config(rules)) == rules
    with pytest.raises(ValueError, match="agg must be one of"):
        rules_from_config(
            {"rules": [{"type": "aggregate", "column": "x", "agg": "bogus",
                        "max_value": 1}]}
        )
