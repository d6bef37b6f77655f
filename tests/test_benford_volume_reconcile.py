"""BenfordRule / VolumeRule / ReconciliationRule — the round-5 additions
to the partition-level constraint vocabulary.

Benford ≙ the fabricated-data detector (Nigrini MAD over first
significant digits); Volume ≙ delivery-anomaly row-count fences;
Reconciliation ≙ control totals vs a system-of-record (the aggregate
sibling of RefIntegrityRule/CompletenessRule's key-set checks).
"""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from use_case_real_time_anomaly_detection_spark.operators.compiler import compile_rules
from use_case_real_time_anomaly_detection_spark.operators.config import (
    rules_from_config,
    rules_to_config,
)
from use_case_real_time_anomaly_detection_spark.operators.rules import (
    BenfordRule,
    ReconciliationRule,
    VolumeRule,
)


@pytest.fixture(scope="module")
def frames(spark):
    random.seed(7)
    rows = []
    for i in range(400):  # log-uniform magnitudes -> Benford-conforming
        rows.append(("p0", f"a{i:04d}", 10 ** random.uniform(0, 4)))
    for i in range(400):  # uniform in [100, 999] -> non-conforming
        rows.append(("p1", f"b{i:04d}", random.uniform(100, 999)))
    for i in range(30):  # tiny partition: below min_count AND volume-low
        rows.append(("p2", f"c{i:04d}", 10 ** random.uniform(0, 4)))
    df = spark.createDataFrame(
        rows, "partition_key string, clip_id string, dur_ms double"
    )
    ref = spark.createDataFrame(
        [("p0", f"a{i:04d}", 2.0) for i in range(400)]
        + [("p1", f"b{i:04d}", 2.0) for i in range(410)]  # 10 extra keys
        + [("p2", f"c{i:04d}", 2.0) for i in range(30)]
        + [("p9", "zz", 2.0)],  # ref-only partition
        "partition_key string, clip_id string, w double",
    )
    return df, ref


def _viol(plan, detector):
    return {
        r["partition_key"]: r
        for r in plan.violations.filter(F.col("detector") == detector).collect()
    }


# ---------------------------------------------------------------- Benford


def test_benford_flags_uniform_not_loguniform(spark, frames):
    df, _ = frames
    plan = compile_rules(df, [BenfordRule("dur_ms", min_count=100)])
    v = _viol(plan, "benford-dur_ms")
    # p0 conforms, p1 (uniform) violates, p2 skipped by min_count
    assert set(v) == {"p1"}
    assert v["p1"]["observed"].startswith("mad:")
    assert "benford-dur_ms" in plan.partition_level


def test_benford_min_count_skips_small_partitions(spark, frames):
    df, _ = frames
    plan = compile_rules(df, [BenfordRule("dur_ms", min_count=10)])
    # with the gate lowered, the 30-row log-uniform partition is judged
    # (and, being a noisy small sample, may or may not flag) — but the
    # conforming 400-row partition must still pass
    assert "p0" not in _viol(plan, "benford-dur_ms")


def test_benford_digit_extraction_edge_values(spark):
    """String-path first-digit: sub-1 magnitudes, negatives, zeros, NULLs."""
    rows = (
        [("p", str(i), v) for i, v in enumerate(
            [0.00123, -02.5, 1000.0, 9.99e-7, 0.0, None] * 40
        )]
    )
    df = spark.createDataFrame(
        rows, "partition_key string, clip_id string, x double"
    )
    # digits observed: 1, 2, 1, 9 (zeros/NULLs excluded) -> shares
    # concentrated on {1,2,9}; n_used = 4*40 = 160
    plan = compile_rules(df, [BenfordRule("x", min_count=100, max_mad=0.001)])
    v = _viol(plan, "benford-x")
    assert set(v) == {"p"}
    # hand-computed MAD over the known digit mix
    shares = {1: 80 / 160, 2: 40 / 160, 9: 40 / 160}
    mad = sum(
        abs(shares.get(d, 0.0) - math.log10(1 + 1 / d)) for d in range(1, 10)
    ) / 9
    from use_case_real_time_anomaly_detection_spark.sources.synth import (
        _spark_round_str,
    )

    assert v["p"]["observed"] == f"mad:{_spark_round_str(mad, 4)}"


def test_benford_constructor_validation():
    with pytest.raises(ValueError):
        BenfordRule("x", max_mad=0.0)
    assert BenfordRule("x").detector == "benford-x"


# ----------------------------------------------------------------- Volume


def test_volume_absolute_and_factor_fences(spark, frames):
    df, _ = frames
    plan = compile_rules(df, [VolumeRule(min_rows=50, max_factor=3.0)])
    v = _viol(plan, "volume")
    # median of (400, 400, 30) = 400; 30 < max(50, 400/3) -> only p2
    assert set(v) == {"p2"}
    assert v["p2"]["observed"] == "rows:30"


def test_volume_factor_only_band(spark):
    counts = {"a": 100, "b": 100, "c": 100, "d": 100, "e": 260}
    rows = [(p, f"{p}{i}") for p, n in counts.items() for i in range(n)]
    df = spark.createDataFrame(rows, "partition_key string, clip_id string")
    plan = compile_rules(df, [VolumeRule(max_factor=2.5)])
    assert set(_viol(plan, "volume")) == {"e"}  # 260 > 100 * 2.5
    # an even partition count interpolates the median like Spark's
    # percentile(n, 0.5D): (100 + 260) / 2 = 180, so the band is [90, 360]
    even = df.filter(F.col("partition_key").isin("a", "b", "e")).unionByName(
        spark.createDataFrame([("f", f"f{i}") for i in range(400)], df.schema)
    )
    assert set(_viol(compile_rules(even, [VolumeRule(max_factor=2.0)]), "volume")) == {"f"}
    # no partitions, no median: no rows
    assert compile_rules(df.limit(0), [VolumeRule(max_factor=2.5)]).violations.count() == 0


def test_volume_constructor_validation():
    with pytest.raises(ValueError):
        VolumeRule()  # no fence at all
    with pytest.raises(ValueError):
        VolumeRule(max_factor=0.5)  # factor < 1


# ---------------------------------------------------------- Reconciliation


def test_reconcile_count_and_ref_only_partition(spark, frames):
    df, ref = frames
    plan = compile_rules(
        df,
        [ReconciliationRule("clip_id", agg="count", ref_table="manifest")],
        refs={"manifest": ref},
    )
    v = _viol(plan, "reconcile-clip_id")
    # p1: 400 vs 410; p9: 0 vs 1 (table side absent -> reconciles vs 0)
    assert set(v) == {"p1", "p9"}
    assert v["p1"]["observed"] == "count:400.0| expected:410.0"
    assert v["p9"]["observed"] == "count:0.0| expected:1.0"


def test_reconcile_sum_with_tolerance(spark):
    df = spark.createDataFrame(
        [("p", str(i), 10.0) for i in range(100)],
        "partition_key string, clip_id string, dur double",
    )
    ref = spark.createDataFrame(
        [("p", 1004.0)], "partition_key string, expected_dur double"
    )
    base = dict(
        agg="sum", ref_table="man", ref_column="expected_dur",
    )
    strict = compile_rules(
        df, [ReconciliationRule("dur", **base)], refs={"man": ref}
    )
    assert set(_viol(strict, "reconcile-dur")) == {"p"}  # 1000 vs 1004
    tolerant = compile_rules(
        df,
        [ReconciliationRule("dur", rel_tolerance=0.005, **base)],
        refs={"man": ref},
    )  # tol = 0.005 * 1004 = 5.02 > 4
    assert tolerant.violations.filter(
        F.col("detector") == "reconcile-dur"
    ).count() == 0


def test_reconcile_config_errors(spark, frames):
    df, ref = frames
    with pytest.raises(ValueError, match="unknown ref table"):
        compile_rules(df, [ReconciliationRule("clip_id")], refs={})
    with pytest.raises(ValueError, match="partition column"):
        compile_rules(
            df,
            [ReconciliationRule("clip_id", ref_table="m")],
            refs={"m": ref.drop("partition_key")},
        )
    with pytest.raises(ValueError):
        ReconciliationRule("x", agg="avg")
    with pytest.raises(ValueError):
        ReconciliationRule("x", abs_tolerance=-1)


# ------------------------------------------------------------ config I/O


def test_config_round_trip_new_families():
    rules = [
        BenfordRule("dur_ms", max_mad=0.012, min_count=200),
        VolumeRule(min_rows=10, max_factor=2.0),
        ReconciliationRule(
            "dur_ms", agg="sum", ref_table="manifest",
            ref_column="expected_dur", rel_tolerance=0.01,
        ),
    ]
    assert rules_from_config(rules_to_config(rules)) == rules
