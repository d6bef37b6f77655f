"""Constraint suggestion (operators/suggest): policy correctness against
hand-built data, exact config round-trip, and the self-consistency
contract — the suggested ruleset produces ZERO violations on the data
that suggested it (every bound is an observed bound)."""

from __future__ import annotations

import pytest

from use_case_real_time_anomaly_detection_spark.operators.engine import (
    ValidationEngine,
)
from use_case_real_time_anomaly_detection_spark.operators.config import (
    rules_from_config,
    rules_to_config,
)
from use_case_real_time_anomaly_detection_spark.operators.rules import (
    NotNullRule,
    RangeRule,
    UniqueRule,
    ValueSetRule,
)
from use_case_real_time_anomaly_detection_spark.operators.suggest import (
    column_facts,
    suggest_rules,
)


def _frame(spark):
    """Four partitions' worth of shape variety: id = clean string key,
    lang = small string domain, score = numeric with range, note =
    string with NULLs (no not_null), val = numeric with a NULL (no
    not_null, range over the non-nulls)."""
    rows = [
        ("k00", "en", 10, "a", 1.5),
        ("k01", "en", 20, None, 2.5),
        ("k02", "de", 30, "c", None),
        ("k03", "fr", 15, "d", 0.5),
    ]
    return spark.createDataFrame(
        rows, "id string, lang string, score int, note string, val double"
    )


def test_suggest_policy_on_known_shapes(spark):
    import math

    from use_case_real_time_anomaly_detection_spark.operators.rules import (
        AggregateRule,
    )

    def avg_fence(s1, s2, nn):
        avg = s1 / nn
        sigma = math.sqrt(max(s2 / nn - avg * avg, 0.0))
        return (
            math.floor((avg - 3.0 * sigma - 0.005) * 1e6) / 1e6,
            math.ceil((avg + 3.0 * sigma + 0.005) * 1e6) / 1e6,
        )

    df = _frame(spark)
    got = suggest_rules(df, max_set_size=3)
    score_lo, score_hi = avg_fence(75.0, 1625.0, 4)
    val_lo, val_hi = avg_fence(4.5, 8.75, 3)
    assert got == [
        NotNullRule(column="id"),
        UniqueRule(columns=("id",)),
        NotNullRule(column="lang"),
        ValueSetRule(column="lang", allowed=("de", "en", "fr")),
        NotNullRule(column="score"),
        RangeRule(column="score", min_value=10.0, max_value=30.0),
        AggregateRule(
            column="score", agg="avg", min_value=score_lo, max_value=score_hi
        ),
        # note: small domain BUT nullable → no value_set (ValueSetRule
        # counts NULL as outside any set; suggesting one would violate
        # the zero-violation self-consistency contract) — the nullable
        # columns get their observed null rate capped instead
        AggregateRule(column="note", agg="null_rate", max_value=0.25),
        AggregateRule(column="val", agg="null_rate", max_value=0.25),
        RangeRule(column="val", min_value=0.5, max_value=2.5),
        AggregateRule(
            column="val", agg="avg", min_value=val_lo, max_value=val_hi
        ),
    ]
    # tighter set cap: lang has 3 distinct values > 2 → no value_set
    capped = suggest_rules(df, max_set_size=2)
    assert not any(isinstance(r, ValueSetRule) for r in capped)
    # column subset honored; unknown columns raise
    only = suggest_rules(df, columns=["lang"])
    assert {r.column for r in only} == {"lang"}
    with pytest.raises(ValueError, match="unknown columns"):
        column_facts(df, ["nope"])
    with pytest.raises(ValueError, match=">= 1"):
        suggest_rules(df, max_set_size=0)


def test_suggest_empty_and_degenerate_inputs(spark):
    empty = spark.createDataFrame([], "id string, score int")
    assert suggest_rules(empty) == []
    # all-NULL column: no not_null, no range (no observed values)
    nulls = spark.createDataFrame(
        [(None, None)] * 3, "s string, x double"
    )
    assert suggest_rules(nulls) == []


def test_suggest_round_trips_through_config_and_self_validates(spark):
    df = _frame(spark)
    rules = suggest_rules(df, max_set_size=3)
    # exact document round-trip — the promotable-artifact contract
    doc = rules_to_config(suggest_rules(df, max_set_size=3))
    assert rules_from_config(doc) == rules

    # self-consistency: run the suggested rules back over the same data
    # through the real engine → zero violations, every partition passes
    from pyspark.sql import functions as F

    meta = df.withColumn("partition_key", F.lit("p0")).withColumn(
        "seq", F.monotonically_increasing_id()
    )
    engine = ValidationEngine(
        key_col="id", partition_col="partition_key", seq_col="seq"
    )
    res = engine.run(meta, rules)
    assert res.violations.count() == 0
    verdicts = res.verdicts.collect()
    assert verdicts and all(v["pass"] for v in verdicts)


def test_suggest_refuses_unique_on_duplicated_or_numeric_keys(spark):
    # duplicate string key → distinct < rows → no unique suggestion
    dup = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "id string, n int"
    )
    got = suggest_rules(dup)
    assert not any(isinstance(r, UniqueRule) for r in got)
    # collision-free NUMERIC column is not a key by policy
    nums = spark.createDataFrame([(1.5,), (2.5,), (3.5,)], "m double")
    assert not any(isinstance(r, UniqueRule) for r in suggest_rules(nums))
