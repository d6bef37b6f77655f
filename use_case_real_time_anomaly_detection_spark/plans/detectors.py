"""Reference-parity anomaly detectors over the (id, timestamp, value) shape.

1:1 re-expressions of the reference's five endpoint pipes
(/root/reference/tinybird/pipes/{out_of_range,rate_of_change,timeout,
z_score,iqr}.pipe) as DataFrame builders. Template parameters become
Python keyword args with the reference's defaults; `NOW()` becomes an
explicit frozen ``frontier`` timestamp (determinism contract,
SURVEY.md §4.3); ClickHouse `LIMIT 1 BY id` compiles to a row_number
window (operators/limit_by.py).

Each function takes an events DataFrame with columns
(id, ts, value) — the driver's events.parquet maps user_id→id — and
returns a lazy DataFrame. Intended plan shapes:
- out_of_range: single filter, fully pushed to the scan;
- rate_of_change: one shuffle (window by id);
- timeout / most_recent: one partial-aggregatable groupBy / window;
- z_score / iqr: per-id stats aggregate broadcast-joined to the
  detect-window scan (≙ the reference's stats CTE join, z_score.pipe:33-34,
  which we broadcast: ≤1 row per id — SURVEY.md §2.3 J1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SECONDS_PER_DAY = 86400


def events_shape(df: DataFrame) -> DataFrame:
    """Map the driver's events table to the reference's fact shape
    (incoming_data.datasource:2-9: id, timestamp, value)."""
    return df.select(
        F.col("user_id").alias("id"),
        F.col("ts"),
        F.col("value"),
        F.col("event_id"),  # unique tiebreaker for deterministic ordering
    )


def frontier_ts(events: DataFrame):
    """Frozen "NOW()" = max event time (deterministic per dataset)."""
    return events.agg(F.max("ts")).collect()[0][0]


def _window(frontier, seconds: int) -> Column:
    """Trailing detect window, exclusive lower edge (P3:
    `timestamp > NOW() - INTERVAL n SECONDS` — out_of_range.pipe:33)."""
    return F.col("ts") > F.lit(frontier) - F.expr(f"INTERVAL {seconds} SECOND")


def _between(frontier, seconds: int) -> Column:
    """Trailing window, inclusive both edges (P4:
    `timestamp BETWEEN NOW() - INTERVAL m .. AND NOW()` — z_score.pipe:20,35)."""
    return F.col("ts").between(
        F.lit(frontier) - F.expr(f"INTERVAL {seconds} SECOND"), F.lit(frontier)
    )


# ---------------------------------------------------------------------------


def out_of_range(
    events: DataFrame,
    frontier,
    *,
    min_value: float = 1.0,
    max_value: float = 180.0,
    detect_window_seconds: int = 7 * SECONDS_PER_DAY,
) -> DataFrame:
    """≙ pipes/out_of_range.pipe:13-34: threshold predicate + trailing
    window, thresholds echoed into the output (P1/P2/P3)."""
    return events.filter(
        _window(frontier, detect_window_seconds)
        & ((F.col("value") < min_value) | (F.col("value") > max_value))
    ).select(
        "id",
        "ts",
        "value",
        F.lit(float(min_value)).alias("min_value"),
        F.lit(float(max_value)).alias("max_value"),
    ).orderBy(F.desc("ts"), "id")


def rate_of_change(
    events: DataFrame,
    frontier,
    *,
    max_slope: float = 0.005,
    detect_window_seconds: int = 7 * SECONDS_PER_DAY,
) -> DataFrame:
    """≙ pipes/rate_of_change.pipe: lag(value/ts) per id, slope =
    value_diff / seconds_diff, WHERE ABS(slope) > max_slope (W1/P7/F11).

    Deterministic ordering: (ts, event_id) — equal timestamps would make
    lag() nondeterministic. Zero/negative time_diff rows are dropped
    (the reference's IEEE x/0→±Inf rows never pass ABS(slope)> filter
    either — SURVEY.md §2.8, F12).
    """
    w = Window.partitionBy("id").orderBy("ts", "event_id")
    with_prev = events.select(
        "id",
        "ts",
        "value",
        F.lag("value", 1).over(w).alias("prev_value"),
        F.lag("ts", 1).over(w).alias("prev_ts"),
    )
    tdiff = (
        F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")
    ).cast("double")
    vdiff = F.col("value") - F.col("prev_value")
    slope = F.when(tdiff > 0, vdiff / tdiff)
    return (
        with_prev.withColumn("slope", F.round(slope, 6))
        .withColumn("value_diff", F.round(vdiff, 2))
        .filter(
            _window(frontier, detect_window_seconds)
            & (F.abs(F.col("slope")) > max_slope)
        )
        .select("id", "ts", "value", "prev_value", "slope", "value_diff")
        # ≙ copy_rate_of_change.pipe:59 ORDER BY timestamp DESC (O1)
        .orderBy(F.desc("ts"), "id")
    )


def most_recent(events: DataFrame) -> DataFrame:
    """≙ pipes/most_recent.pipe:10-15: ORDER BY ts DESC LIMIT 1 BY id —
    compiled to row_number (the reference's own documented alternative,
    content/timeout.md:95-117)."""
    w = Window.partitionBy("id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        events.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("id", F.col("ts").alias("last_seen"), "value")
        # ≙ most_recent.pipe:25 ORDER BY id ASC (O2)
        .orderBy("id")
    )


def timeout(
    events: DataFrame,
    frontier,
    *,
    seconds: int = 2 * SECONDS_PER_DAY,
) -> DataFrame:
    """≙ pipes/timeout.pipe:15-40: latest report per id older than
    NOW() - seconds (P10, latest-per-key via W3→row_number)."""
    return (
        most_recent(events)
        .filter(
            F.col("last_seen") < F.lit(frontier) - F.expr(f"INTERVAL {seconds} SECOND")
        )
        # ≙ copy_timeout.pipe:21 ORDER BY timestamp DESC
        .orderBy(F.desc("last_seen"), "id")
    )


def z_score(
    events: DataFrame,
    frontier,
    *,
    zscore_threshold: float = 2.0,
    stats_window_seconds: int = 14 * SECONDS_PER_DAY,
    detect_window_seconds: int = 3 * SECONDS_PER_DAY,
) -> DataFrame:
    """≙ pipes/z_score.pipe: per-id avg + stddevPop over the stats window
    (A1/A2), broadcast-joined to the detect-window scan (J1), z =
    (value-avg)/stddev rounded to 2, |z| > threshold (P8 — implemented as
    the *intended* semantics; the reference's WHERE has a precedence
    quirk that evaluates to the same set, SURVEY.md §2.8.1), with the
    low/high label (F3)."""
    # avg/stddevPop from EXACT decimal sums: `value` is ~2-decimal
    # quantized, so plain double avg is summation-order dependent and its
    # 2-decimal rounding lands on midpoints that flip run-to-run. The
    # decimal sums are exact (order-independent); the double ops after
    # the cast are a fixed IEEE sequence the DuckDB oracle mirrors 1:1.
    vd = F.col("value").cast("decimal(18,2)")
    s1 = F.sum(vd).cast("double")
    s2 = F.sum(vd * vd).cast("double")
    n = F.count("value")
    mean = s1 / n
    var = s2 / n - mean * mean
    stats = (
        events.filter(_between(frontier, stats_window_seconds))
        .groupBy("id")
        .agg(
            mean.alias("average"),
            F.sqrt(F.greatest(var, F.lit(0.0))).alias("stddev"),
        )
    )
    # NOTE: ClickHouse lets later expressions reference SELECT aliases, so
    # the reference's filter and `test` label see the ROUNDED zscore
    # (z_score.pipe endpoint node) — we match that: round first, then test.
    z = F.round((F.col("value") - F.col("average")) / F.col("stddev"), 2)
    return (
        events.filter(_between(frontier, detect_window_seconds))
        .join(F.broadcast(stats), "id")
        .filter(F.col("stddev") > 0)
        .withColumn("zscore", z)
        .withColumn(
            "test",
            F.when(F.col("zscore") < -zscore_threshold, "low")
            .when(F.col("zscore") > zscore_threshold, "high")
            .otherwise("ok"),
        )
        .filter(F.abs(F.col("zscore")) > zscore_threshold)
        .select(
            "id",
            "ts",
            "value",
            "zscore",
            "test",
            F.round("average", 2).alias("average"),
            F.round("stddev", 2).alias("stddev"),
        )
        # ≙ z_score.pipe endpoint ORDER BY timestamp DESC (O1)
        .orderBy(F.desc("ts"), "id")
    )


def running_z_score(
    events: DataFrame,
    *,
    threshold: float = 3.0,
    min_periods: int = 30,
) -> DataFrame:
    """Prefix (expanding-window) z-score: each event scored against the
    mean/stddevPop of ALL its key's prior events (the current row is
    excluded, like z_score's trailing frame). One cumulative window
    pass, single shuffle by id; the ``running_z_score`` parity row checks
    it against its DuckDB oracle."""
    w = (
        Window.partitionBy("id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    avg_c = F.avg("value").over(w)
    std_c = F.stddev_pop("value").over(w)
    cnt_c = F.count("value").over(w)
    z = (F.col("value") - avg_c) / std_c
    return (
        events.select(
            "id", "ts", "value",
            avg_c.alias("__avg"), std_c.alias("__std"), cnt_c.alias("__cnt"),
            z.alias("__z"),
        )
        .filter(
            (F.col("__cnt") >= min_periods)
            & (F.col("__std") > 0)
            & (F.abs(F.col("__z")) > threshold)
        )
        .select(
            "id",
            "ts",
            "value",
            # zscore only: the mean/std columns are rational numbers of
            # 2-decimal inputs and routinely land EXACTLY on rounding
            # midpoints, where engine summation order flips the 4th
            # decimal — the quotient is boundary-safe (oracle parity)
            F.round("__z", 4).alias("zscore"),
        )
    )


def simple_z_score(
    events: DataFrame,
    frontier,
    *,
    zscore_multiplier: float = 3.0,
    stats_window_seconds: int = 14 * SECONDS_PER_DAY,
    detect_window_seconds: int = 3 * SECONDS_PER_DAY,
) -> DataFrame:
    """≙ pipes/simple_z_score.pipe: identical math to z_score.pipe (per-id
    avg/stddevPop joined to the detect window) with the multiplier named
    `zscore_multiplier` (default 3) and echoed into the output
    (simple_z_score.pipe:45-60). The reference's two z-score pipes differ
    only in defaults and that echo; both compile to the same Spark plan."""
    out = z_score(
        events,
        frontier,
        zscore_threshold=zscore_multiplier,
        stats_window_seconds=stats_window_seconds,
        detect_window_seconds=detect_window_seconds,
    )
    return out.withColumn(
        "zscore_multiplier", F.lit(float(zscore_multiplier))
    )


def get_data(
    events: DataFrame,
    frontier,
    *,
    minutes: int = 24,
    sensor_id: int | None = None,
) -> DataFrame:
    """≙ pipes/get_data.pipe:15-21 (and data.pipe, the hours-granularity
    twin): raw trailing-window slice of the fact table, optional key
    filter (P5). Plan: a single pushed-down scan filter."""
    df = events.filter(
        F.col("ts") > F.lit(frontier) - F.expr(f"INTERVAL {minutes} MINUTE")
    )
    if sensor_id is not None:
        df = df.filter(F.col("id") == sensor_id)
    # ≙ get_data.pipe:20 / data.pipe:20 ORDER BY timestamp DESC
    return df.select("id", "ts", "value").orderBy(F.desc("ts"), "id")


def data(
    events: DataFrame,
    frontier,
    *,
    hours: int = 24,
    sensor_id: int | None = None,
) -> DataFrame:
    """≙ pipes/data.pipe:13-20: the hours-granularity twin of get_data —
    identical plan, the trailing window measured in hours."""
    return get_data(
        events, frontier, minutes=hours * 60, sensor_id=sensor_id
    )


def ui_ids(events: DataFrame) -> DataFrame:
    """≙ pipes/ui_ids.pipe:10-12: SELECT DISTINCT id (A5/O3) — partial
    hash-aggregate per task, tiny final exchange."""
    return events.select("id").distinct()


def iqr(
    events: DataFrame,
    frontier,
    *,
    iqr_multiplier: float = 1.5,
    stats_window_seconds: int = 14 * SECONDS_PER_DAY,
    detect_window_seconds: int = 3 * SECONDS_PER_DAY,
    exact: bool = True,
    max_per_sensor: int | None = None,
) -> DataFrame:
    """≙ pipes/iqr.pipe: exact quartiles per id (A3), IQR = (q3-q1)*k
    (A4), fences lower=q1-IQR upper=q3+IQR, detect rows outside (P9).

    ``exact=True`` matches the reference's quantileExact (test scale);
    ``exact=False`` switches to approx_percentile for the 10^12-row path
    (SURVEY.md §4.2.5) — parity asserted in tests.

    ``max_per_sensor`` ≙ the endpoint's throttling parameter
    (content/interquartile-range.md:104 `LIMIT {{max_per_sensor}} BY id`,
    iqr.pipe:6 note): around a step change every event breaches the
    stale fences until the window re-normalizes, so cap the reported
    events per sensor at the n MOST RECENT — the reference's trailing-
    edge selection (its own TODO notes leading-edge might be preferable;
    we mirror the shipped semantics). Default None = uncapped, matching
    the copy-pipe variant which writes all detections.

    We implement the *intended* window semantics (stats window anchored
    at the frontier); the reference's copy_iqr anchors at midnight —
    a documented quirk we do not replicate (SURVEY.md §2.8.2).
    """
    if exact:
        q1 = F.expr("percentile(value, 0.25D)")
        q3 = F.expr("percentile(value, 0.75D)")
    else:
        q1 = F.percentile_approx("value", 0.25, 10000)
        q3 = F.percentile_approx("value", 0.75, 10000)
    stats = (
        events.filter(_between(frontier, stats_window_seconds))
        .groupBy("id")
        .agg(q1.alias("lower_quartile"), q3.alias("upper_quartile"))
        .withColumn(
            "iqr", (F.col("upper_quartile") - F.col("lower_quartile")) * iqr_multiplier
        )
    )
    # filter on UNROUNDED fences, display rounded, SELECT DISTINCT —
    # exactly the reference endpoint node's shape (iqr.pipe:43-53)
    out = (
        events.filter(_between(frontier, detect_window_seconds))
        .join(F.broadcast(stats), "id")
        .filter(
            (F.col("value") > F.col("upper_quartile") + F.col("iqr"))
            | (F.col("value") < F.col("lower_quartile") - F.col("iqr"))
        )
        .select(
            "id",
            "ts",
            "value",
            F.round(F.col("lower_quartile") - F.col("iqr"), 2).alias("lower_bound"),
            F.round(F.col("upper_quartile") + F.col("iqr"), 2).alias("upper_bound"),
        )
        .distinct()
    )
    if max_per_sensor is not None:
        # LIMIT n BY id after DISTINCT, ordered ts DESC (most recent —
        # trailing edge, as shipped). ties broken by value for
        # engine-independent determinism
        from ..operators.limit_by import limit_by

        out = limit_by(
            out, ["id"], [F.desc("ts"), F.col("value")], max_per_sensor
        )
    # ≙ iqr.pipe:54 ORDER BY timestamp DESC (O1)
    return out.orderBy(F.desc("ts"), "id")
