"""Mergeable profile states: exact rollups + incremental re-profiling.

The 100 TB contract under test (functions/stats.profile_state /
merge_profile_states, streaming/checkpoint.record_profile):

1. the merged global profile is BIT-IDENTICAL for any partitioning of
   the input (decimal moments are associative; HLL union is
   register-wise max) — the property that makes per-partition states a
   valid substitute for a full-corpus scan;
2. overwriting ONE partition's state row and re-merging equals a full
   recompute — the resumable/incremental re-profiling path;
3. the HLL estimate is exact in the coupon-list regime and within the
   published error beyond it.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from use_case_real_time_anomaly_detection_spark.functions.stats import (
    merge_profile_states,
    profile_state,
)
from use_case_real_time_anomaly_detection_spark.sources.tables import ParquetCatalog
from use_case_real_time_anomaly_detection_spark.streaming.checkpoint import (
    CheckpointStore,
)

SF = "/root/testdata/sf0.001"


def _events(spark):
    return spark.read.parquet(f"{SF}/events.parquet")


def _collect(df):
    return sorted(
        (r["column"], r["stat"], r["value"])
        for r in df.select("column", "stat", "value").collect()
    )


def _state(df, partition_col="pk"):
    return profile_state(
        df,
        partition_col=partition_col,
        numeric_columns=["value"],
        distinct_columns=["user_id", "event_type"],
    )


def test_merge_is_partitioning_invariant(spark):
    ev = _events(spark)
    by8 = _state(ev.withColumn("pk", F.pmod("user_id", F.lit(8))))
    by3 = _state(ev.withColumn("pk", F.pmod("event_id", F.lit(3))))
    one = _state(ev.withColumn("pk", F.lit(0)))
    a, b, c = (
        _collect(merge_profile_states(s)) for s in (by8, by3, one)
    )
    assert a == b == c  # bit-identical, not approx


def test_merged_profile_matches_exact_pandas(spark):
    ev = _events(spark)
    merged = dict(
        ((r[0], r[1]), r[2])
        for r in _collect(
            merge_profile_states(
                _state(ev.withColumn("pk", F.pmod("user_id", F.lit(5))))
            )
        )
    )
    pdf = ev.toPandas()
    assert merged[("_table_", "rows")] == len(pdf)
    assert merged[("user_id", "n_distinct")] == pdf["user_id"].nunique()
    assert merged[("event_type", "n_distinct")] == pdf["event_type"].nunique()
    assert merged[("value", "min")] == pytest.approx(pdf["value"].min())
    assert merged[("value", "max")] == pytest.approx(pdf["value"].max())
    assert merged[("value", "null_count")] == pdf["value"].isna().sum()
    assert merged[("value", "avg")] == pytest.approx(pdf["value"].mean(), rel=1e-9)
    assert merged[("value", "stddev_pop")] == pytest.approx(
        pdf["value"].std(ddof=0), rel=1e-9
    )


def test_incremental_reprofile_equals_full_recompute(spark, tmp_path):
    ev = _events(spark).withColumn("pk", F.pmod("user_id", F.lit(4)))
    store = CheckpointStore(ParquetCatalog(spark, str(tmp_path)))

    # initial profile of every partition
    store.record_profile(_state(ev))

    # partition 2 is re-ingested with different data (values shifted,
    # one user dropped): re-profile ONLY that partition
    changed = ev.filter(F.col("pk") == 2).withColumn(
        "value", F.col("value") * 2
    ).filter(F.col("user_id") != 2)
    store.record_profile(_state(changed))

    incremental = _collect(store.merged_profile())

    # ground truth: full recompute over the post-change corpus
    corpus = ev.filter(F.col("pk") != 2).unionByName(changed)
    full = _collect(merge_profile_states(_state(corpus)))
    assert incremental == full


def test_histogram_quantiles_merge(spark):
    """Fixed-bin histogram states merge by element-wise sum; the
    interpolated quantile is partitioning-invariant and within one bin
    width of the exact percentile."""
    ev = _events(spark)
    hc = {"value": (0.0, 500.0, 50)}
    bin_w = 500.0 / 50

    def merged(pk_expr):
        st = profile_state(
            ev.withColumn("pk", pk_expr),
            partition_col="pk",
            histogram_columns=hc,
        )
        return dict(
            ((r[0], r[1]), r[2]) for r in _collect(merge_profile_states(st))
        )

    by8 = merged(F.pmod("user_id", F.lit(8)))
    one = merged(F.lit(0))
    for stat in ("approx_q25", "approx_median", "approx_q75"):
        assert by8[("value", stat)] == one[("value", stat)]

    exact = ev.selectExpr(
        "percentile(value, 0.25D) AS q25",
        "percentile(value, 0.5D) AS q50",
        "percentile(value, 0.75D) AS q75",
    ).collect()[0]
    assert abs(by8[("value", "approx_q25")] - exact["q25"]) <= bin_w
    assert abs(by8[("value", "approx_median")] - exact["q50"]) <= bin_w
    assert abs(by8[("value", "approx_q75")] - exact["q75"]) <= bin_w


def test_hll_estimate_regimes(spark):
    ev = _events(spark)
    st = profile_state(
        ev.withColumn("pk", F.pmod("user_id", F.lit(8))),
        partition_col="pk",
        distinct_columns=["user_id", "value"],
    )
    merged = dict(
        ((r[0], r[1]), r[2]) for r in _collect(merge_profile_states(st))
    )
    exact_users = ev.select("user_id").distinct().count()
    exact_values = ev.select("value").distinct().count()
    # coupon-list regime: exact
    assert merged[("user_id", "n_distinct")] == exact_users
    # dense regime: within the lgK=12 published error (~1.6% rsd, 5% cap)
    assert merged[("value", "n_distinct")] == pytest.approx(
        exact_values, rel=0.05
    )


def test_drift_from_states_matches_raw_scan(spark):
    """drift_from_states over stored histograms == drift_scores over the
    raw column on the same fixed grid, to float noise — the state table
    fully substitutes for the corpus in the drift check."""
    from use_case_real_time_anomaly_detection_spark.functions.stats import (
        drift_from_states,
        drift_scores,
    )

    ev = _events(spark)
    mm = (
        ev.filter(F.col("value").isNotNull())
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()[0]
    )
    # the state grid is the column's own [min, max]: the grid
    # drift_scores bins on
    lo, hi = float(mm["lo"]), float(mm["hi"])
    ref = {
        r["partition_key"]: (r["psi"], r["ks"], r["w1"])
        for r in drift_scores(ev, "value", partition_col="event_type", bins=20).collect()
    }
    states = profile_state(
        ev, partition_col="event_type",
        histogram_columns={"value": (lo, hi, 20)},
    )
    got = {
        r["partition_key"]: (r["psi"], r["ks"], r["w1"])
        for r in drift_from_states(states, "value").collect()
    }
    assert ref.keys() == got.keys() and len(ref) > 1
    for k in ref:
        assert got[k][0] == pytest.approx(ref[k][0], abs=1e-12)
        assert got[k][1] == pytest.approx(ref[k][1], abs=1e-12)
        assert got[k][2] == pytest.approx(ref[k][2], abs=1e-12)


def test_wasserstein_is_scale_aware_where_ks_saturates(spark):
    """The motivation for the W1 column: two drifted partitions whose
    supports are BOTH fully disjoint from the consensus score the same
    saturated KS (≈ 1) and comparable PSI, but W1 ranks them by HOW FAR
    the mass moved — and matches a numpy replay of the smoothed math
    bit-for-bit."""
    import math

    import numpy as np

    from use_case_real_time_anomaly_detection_spark.functions.stats import (
        drift_scores,
    )

    rows = []
    # six healthy partitions at value ~[0, 10); one near-shift partition
    # at ~[20, 30); one far-shift partition at ~[90, 100)
    rng = np.random.default_rng(7)
    for p in range(6):
        for i, v in enumerate(rng.uniform(0.0, 10.0, 200)):
            rows.append((f"h{p}", float(round(v, 2))))
    for i, v in enumerate(rng.uniform(20.0, 30.0, 200)):
        rows.append(("near", float(round(v, 2))))
    for i, v in enumerate(rng.uniform(90.0, 100.0, 200)):
        rows.append(("far", float(round(v, 2))))
    df = spark.createDataFrame(rows, "pk string, value double")
    # drift_scores bins over the column's own [min, max]
    bins = 20
    lo, hi = min(v for _, v in rows), max(v for _, v in rows)
    got = {
        r["partition_key"]: (r["psi"], r["ks"], r["w1"])
        for r in drift_scores(df, "value", partition_col="pk", bins=bins).collect()
    }
    # KS saturates at the same (smoothing-capped) ceiling for both
    # shifted partitions — it cannot tell a 20-unit move from a 90-unit
    # move once supports are disjoint...
    assert got["near"][1] > 0.9 and got["far"][1] > 0.9
    assert got["near"][1] == pytest.approx(got["far"][1], abs=0.005)
    # ...but W1 ranks them by shift distance, in value units
    assert got["far"][2] > 3 * got["near"][2]
    assert got["near"][2] > 10.0  # ~the 20-unit shift, minus smoothing
    for p in range(6):
        assert got[f"h{p}"][2] < 5.0  # healthy partitions near consensus

    # numpy twin of the full smoothed-share/median-baseline W1
    width = (hi - lo) / bins
    pks = sorted({r[0] for r in rows})
    counts = {pk: np.zeros(bins) for pk in pks}
    for pk, v in rows:
        counts[pk][min(bins - 1, math.floor((v - lo) / width))] += 1
    p = {pk: (c + 0.5) / (c.sum() + 0.5 * bins) for pk, c in counts.items()}
    med = np.median(np.stack([p[pk] for pk in pks]), axis=0)
    q = med / med.sum()
    for pk in pks:
        w1 = np.abs(np.cumsum(p[pk]) - np.cumsum(q)).sum() * width
        assert got[pk][2] == pytest.approx(float(w1), rel=1e-9)


def test_drift_rule_w1_threshold_gates_in_value_units(spark):
    """DriftRule(w1_threshold=): the value-units earth-mover fence flags
    the far-shifted partition while leaving strings/conditions of
    w1-less rules byte-unchanged (existing oracles must not move)."""
    from use_case_real_time_anomaly_detection_spark.operators.compiler import (
        compile_rules,
    )
    from use_case_real_time_anomaly_detection_spark.operators.rules import (
        DriftRule,
    )

    rows = []
    for p in range(5):
        rows += [(f"h{p}", f"h{p}-{i}", float(v % 10)) for i, v in enumerate(range(200))]
    rows += [("far", f"far-{i}", 90.0 + (i % 10)) for i in range(200)]
    df = spark.createDataFrame(rows, "partition_key string, clip_id string, value double")

    # without w1_threshold: note/observed keep the two-axis format
    base = compile_rules(df, [DriftRule("value", psi_threshold=1e9, ks_threshold=0.5)])
    v0 = base.violations.collect()
    assert {r["partition_key"] for r in v0} == {"far"}
    assert all("w1" not in r["note"] and "w1" not in r["observed"] for r in v0)

    # psi/ks disabled, ONLY the 50-value-unit w1 fence active
    plan = compile_rules(
        df,
        [DriftRule("value", psi_threshold=1e9, ks_threshold=1e9, w1_threshold=50.0)],
    )
    v1 = plan.violations.collect()
    assert {r["partition_key"] for r in v1} == {"far"}
    assert "w1_threshold:50" in v1[0]["note"] and "|w1:" in v1[0]["observed"]


def test_drift_from_states_skips_degenerate_partitions(spark):
    """Parity with drift_scores extends to the DEGENERATE cases: a
    partition whose column is entirely NULL (all-zero stored histogram)
    is OMITTED — exactly as drift_scores omits it (no rows survive its
    binning) — instead of being scored with a uniform smoothed p that
    would contaminate the median baseline; state rows with a NULL hist
    array are likewise skipped."""
    from use_case_real_time_anomaly_detection_spark.functions.stats import (
        drift_from_states,
        drift_scores,
    )

    ev = _events(spark)
    # one partition with value entirely NULL → all-zero histogram
    nulled = ev.withColumn(
        "value",
        F.when(F.col("event_type") == "click", F.lit(None)).otherwise(
            F.col("value")
        ),
    )
    # the state grid is the column's own [min, max]: the grid
    # drift_scores bins on
    mm = nulled.agg(F.min("value").alias("lo"), F.max("value").alias("hi")).collect()[0]
    lo, hi = float(mm["lo"]), float(mm["hi"])
    states = profile_state(
        nulled, partition_col="event_type",
        histogram_columns={"value": (lo, hi, 20)},
    )
    ref = {
        r["partition_key"]: (r["psi"], r["ks"])
        for r in drift_scores(
            nulled, "value", partition_col="event_type", bins=20
        ).collect()
    }
    got = {
        r["partition_key"]: (r["psi"], r["ks"])
        for r in drift_from_states(states, "value").collect()
    }
    assert "click" not in got  # degenerate partition omitted, like raw scan
    assert ref.keys() == got.keys() and len(got) > 1
    for k in ref:
        assert got[k][0] == pytest.approx(ref[k][0], abs=1e-12)
        assert got[k][1] == pytest.approx(ref[k][1], abs=1e-12)

    # NULL-hist state rows (column never histogram-profiled for that
    # partition) are skipped, not crashed on or silently half-counted
    null_hist = states.withColumn(
        "value__hist",
        F.when(F.col("partition_key") == "view", F.lit(None)).otherwise(
            F.col("value__hist")
        ),
    )
    got2 = {r["partition_key"] for r in drift_from_states(null_hist, "value").collect()}
    assert "view" not in got2 and got2 == set(got) - {"view"}


def test_store_drift_after_incremental_reprofile(spark, tmp_path):
    """CheckpointStore.drift: after a partition's state row is
    partition-overwritten (incremental re-profile), the zero-corpus-IO
    drift over the store equals a fresh from-scratch computation."""
    from use_case_real_time_anomaly_detection_spark.functions.stats import (
        drift_from_states,
    )

    ev = _events(spark).withColumn("pk", F.pmod("user_id", F.lit(4)).cast("string"))
    hist = {"value": (0.0, 2000.0, 20)}  # fixed grid: the merge contract
    store = CheckpointStore(ParquetCatalog(spark, str(tmp_path)))
    store.record_profile(
        profile_state(ev, partition_col="pk", histogram_columns=hist)
    )
    # re-profile ONE partition (idempotent overwrite of its state row)
    store.record_profile(
        profile_state(
            ev.filter(F.col("pk") == "1"), partition_col="pk",
            histogram_columns=hist,
        )
    )
    got = {
        r["partition_key"]: (r["psi"], r["ks"])
        for r in store.drift("value").collect()
    }
    want = {
        r["partition_key"]: (r["psi"], r["ks"])
        for r in drift_from_states(
            profile_state(ev, partition_col="pk", histogram_columns=hist),
            "value",
        ).collect()
    }
    assert got == want  # overwrite left the table identical to from-scratch
    assert len(got) == 4
