"""compile_rules' type-keyed lowering: tiers of one rule class on one
column, every GapRule's staleness, and the unknown-class contract.

A warn tier and a fail tier of the same fence on one column are a normal
deployment (``--warn`` demotes the looser one). Their per-partition stats
are keyed by (column, exact, accuracy), so equal keys share one set of
helper columns and each tier still flags its own rows.
"""

from __future__ import annotations

import numpy as np
import pytest

from use_case_real_time_anomaly_detection_spark.operators.compiler import compile_rules
from use_case_real_time_anomaly_detection_spark.operators.rules import (
    GapRule,
    IqrRule,
    MadRule,
    ProfileSpec,
    RangeRule,
)

# two partitions of 20 slowly rising values, each with planted outliers of
# two magnitudes (a mild one only the tight tier flags, a wild one both do)
_BASE = [10.0 + 0.5 * i for i in range(20)]
_VALUES = {
    "p0": _BASE + [26.0, 60.0],
    "p1": [v + 5.0 for v in _BASE] + [-3.0, 90.0],
}


@pytest.fixture(scope="module")
def frame(spark):
    rows = [
        (p, f"{p}-{i:03d}", i, v)
        for p, vs in _VALUES.items()
        for i, v in enumerate(vs)
    ]
    return spark.createDataFrame(
        rows, "partition_key string, clip_id string, seq long, value double"
    )


def _flags(plan) -> dict:
    out: dict = {}
    for r in plan.violations.collect():
        out.setdefault(r.detector, set()).add(r.clip_id)
    return out


def _oracle(fence) -> set:
    """clip ids whose value lies outside ``fence(values) -> (lo, hi)``,
    computed per partition."""
    out = set()
    for p, vs in _VALUES.items():
        lo, hi = fence(np.array(vs))
        out |= {f"{p}-{i:03d}" for i, v in enumerate(vs) if v < lo or v > hi}
    return out


def _iqr_fence(k, method="linear"):
    def fence(a):
        q1, q3 = np.percentile(a, [25, 75], method=method)
        return q1 - k * (q3 - q1), q3 + k * (q3 - q1)

    return fence


def test_iqr_tiers_on_one_column_each_flag_their_rows(spark, frame):
    rules = [
        IqrRule("value", multiplier=1.5, exact=True, detector="iqr-warn"),
        IqrRule("value", multiplier=3.0, exact=True),
        # a different stats key on the same column gets its own quartiles
        IqrRule("value", multiplier=1.5, detector="iqr-approx"),
    ]
    got = _flags(compile_rules(frame, rules))
    warn, fail = _oracle(_iqr_fence(1.5)), _oracle(_iqr_fence(3.0))
    assert fail < warn  # the tiers differ on this data
    assert got["iqr-warn"] == warn
    assert got["interquartile-range"] == fail
    # percentile_approx returns a member of the data at rank ceil(p·n)
    assert got["iqr-approx"] == _oracle(_iqr_fence(1.5, "inverted_cdf"))


def test_mad_tiers_on_one_column_each_flag_their_rows(spark, frame):
    def mad_fence(t):
        def fence(a):
            med = np.percentile(a, 50)
            mad = np.percentile(np.abs(a - med), 50)
            return med - t * mad / 0.6745, med + t * mad / 0.6745

        return fence

    rules = [
        MadRule("value", threshold=2.0, exact=True, detector="mad-warn"),
        MadRule("value", threshold=3.5, exact=True),
    ]
    got = _flags(compile_rules(frame, rules))
    warn, fail = _oracle(mad_fence(2.0)), _oracle(mad_fence(3.5))
    assert fail < warn
    assert got["mad-warn"] == warn
    assert got["robust-z"] == fail


def test_every_gap_rule_checks_staleness(spark, frame):
    # p0 ends at seq 21 and p1 at seq 150: at frontier 200 the tight tier
    # (staleness 1) flags both, the loose one (staleness 100) only p0
    late = spark.createDataFrame(
        [("p1", "p1-150", 150, 20.0)],
        "partition_key string, clip_id string, seq long, value double",
    )
    rules = [
        GapRule(max_staleness=1, max_gap=1000, detector="t1"),
        GapRule(max_staleness=100, max_gap=1000, detector="t2"),
    ]
    plan = compile_rules(frame.unionByName(late), rules, seq_col="seq", frontier=200)
    stale = {
        (r.partition_key, r.detector, r.clip_id, r.observed)
        for r in plan.violations.collect()
    }
    assert stale == {
        ("p0", "t1", "p0-021", "21"),
        ("p1", "t1", "p1-150", "150"),
        ("p0", "t2", "p0-021", "21"),
    }
    assert plan.detectors == ["t1-gap", "t2-gap", "t1", "t2"]
    assert plan.partition_level == ["t1", "t2"]


def test_unknown_rule_class_raises_before_any_job(spark, frame):
    class Bogus:
        detector = "bogus"

    sc = spark.sparkContext
    sc.setJobGroup("unknown-rule", "compile_rules type check")
    try:
        with pytest.raises(TypeError, match="unknown rule type: Bogus"):
            compile_rules(frame, [RangeRule("value", 0, 1), Bogus()])
        # an object that is no rule class at all
        with pytest.raises(TypeError, match="unknown rule type: object"):
            compile_rules(frame, [object()])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("unknown-rule") == []


def test_profile_misdeclarations_raise_before_any_job(spark, frame):
    with pytest.raises(ValueError, match="histogram_columns entries"):
        ProfileSpec(histogram_columns=(("value", 1.0, 0.0, 4),))
    sc = spark.sparkContext
    sc.setJobGroup("bad-profile", "compile_rules profile checks")
    try:
        with pytest.raises(ValueError, match="at most one ProfileSpec"):
            compile_rules(frame, [ProfileSpec(("value",)), ProfileSpec()])
        with pytest.raises(ValueError, match=r"columns \['dur_ms'\] not in the table"):
            compile_rules(frame, [ProfileSpec(("value",), ("dur_ms",))])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("bad-profile") == []
