"""Constraint suggestion: profile a table once, emit a candidate ruleset.

The reference ships its detectors pre-configured for one known table
(tinybird/pipes/*.pipe pin thresholds as template defaults); a user
adopting this engine on a NEW corpus starts from nothing. This module
closes that bootstrap gap the way production validation engines do
(Deequ's ConstraintSuggestion, Great Expectations' profiler): compute
column facts in one aggregation pass, derive the rules the observed data
already satisfies, and hand back a rule list that round-trips through
operators/config (``dump_ruleset``, or ``rules_to_config`` for the
document) — diffable, promotable, and immediately runnable with ZERO
violations on the data that produced it (every bound is an observed
bound). The human then tightens what the data merely suggests.

Suggestion policy (deterministic — the DuckDB oracle replays it exactly):

- ``not_null``   — every column whose observed null count is 0.
- ``range``      — numeric columns: observed [min, max]. Exact observed
  bounds, not quantile-padded: padding policy is a human decision, and
  an invented margin would make the suggestion non-reproducible across
  engines.
- ``value_set``  — NULL-free string columns with 1 ≤ exact-distinct ≤
  ``max_set_size`` values: the sorted observed set. ValueSetRule counts
  NULL as outside any set, so suggesting one on a nullable column would
  break the zero-violation contract.
- ``aggregate avg``       — numeric columns: observed mean ± 3·stddev_pop
  (exact DECIMAL(18,2) moments — the profile oracles' cross-engine
  idiom), widened by the 0.005 quantization bound and rounded outward at
  1e-6: the distribution-collapse tripwire row ranges can't express.
- ``aggregate null_rate`` — nullable columns (where not_null cannot be
  claimed): the observed null rate, ceil'd at 1e-6.
- ``unique``     — string columns where exact-distinct == row count and
  no NULLs (a key). Numeric columns are excluded by policy: a float
  measurement column being incidentally collision-free is not evidence
  of a key contract.

Scale shape (100 TB): pass 1 is ONE groupBy().agg() over the corpus —
count / null counts / min / max / exact count_distinct per column.
Exact distincts compile to Catalyst's expand (input fan-out × the
distinct-column count) with map-side partial aggregation, so the shuffle
carries one row per partition regardless of corpus size; this is a
one-off bootstrap job, and exactness is what makes unique / value_set
suggestions trustworthy. Pass 2 collects the actual value sets ONLY for
columns pass 1 proved small (≤ max_set_size distinct values), reading
just those columns — collect_set memory is bounded by proof before it
runs. Nothing else is ever collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.stats import NUMERIC_TYPES
from .rules import (
    AggregateRule,
    NotNullRule,
    RangeRule,
    Rule,
    UniqueRule,
    ValueSetRule,
)


def column_facts(
    df: DataFrame, columns: list[str] | None = None
) -> list[dict]:
    """One aggregation pass → per-column facts, collected to the driver
    (one tiny row per column): rows, non-null count, exact distinct
    count, and min/max for numeric columns. The raw material every
    suggestion derives from."""
    dtypes = dict(df.dtypes)
    cols = list(columns) if columns is not None else list(df.columns)
    unknown = [c for c in cols if c not in dtypes]
    if unknown:
        raise ValueError(f"column_facts: unknown columns {unknown}")

    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        aggs.append(F.count(F.col(c)).alias(f"{c}::nn"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"{c}::nd"))
        if dtypes[c].split("(")[0] in NUMERIC_TYPES:
            aggs.append(F.min(c).cast("double").alias(f"{c}::min"))
            aggs.append(F.max(c).cast("double").alias(f"{c}::max"))
            # EXACT decimal moments for the aggregate-bound suggestions —
            # the (18,2) idiom whose cross-engine double parity the
            # profile oracles already prove (a (18,2)x(18,2) product fits
            # DECIMAL(38); the engine's own (28,6) product does not
            # replay portably)
            d = F.col(c).cast("decimal(18,2)")
            aggs.append(F.sum(d).cast("double").alias(f"{c}::s1"))
            aggs.append(F.sum(d * d).cast("double").alias(f"{c}::s2"))
    row = df.agg(*aggs).first().asDict()

    out = []
    for c in cols:
        out.append(
            {
                "column": c,
                "dtype": dtypes[c],
                "rows": row["__rows"],
                "non_null": row[f"{c}::nn"],
                "distinct": row[f"{c}::nd"],
                "min": row.get(f"{c}::min"),
                "max": row.get(f"{c}::max"),
                "s1": row.get(f"{c}::s1"),
                "s2": row.get(f"{c}::s2"),
            }
        )
    return out


def suggest_rules(
    df: DataFrame,
    *,
    columns: list[str] | None = None,
    max_set_size: int = 16,
) -> list[Rule]:
    """Candidate rule list for ``df`` under the module's suggestion
    policy. Per column, in column order: not_null, then range (numeric)
    or value_set (small-domain string), then unique (string key) —
    deterministic output for deterministic input, by construction."""
    if max_set_size < 1:
        raise ValueError(f"suggest_rules: max_set_size must be >= 1, got {max_set_size}")
    facts = column_facts(df, columns)

    set_cols = [
        f["column"]
        for f in facts
        if f["dtype"].split("(")[0] == "string"
        and f["rows"] > 0
        and f["non_null"] == f["rows"]
        and 1 <= f["distinct"] <= max_set_size
    ]
    value_sets: dict[str, tuple] = {}
    if set_cols:
        # pass 2: bounded by proof — every collected column has
        # ≤ max_set_size distinct values; scan prunes to just them
        row = df.agg(
            *[F.collect_set(c).alias(c) for c in set_cols]
        ).first()
        value_sets = {c: tuple(sorted(row[c])) for c in set_cols}

    import math

    rules: list[Rule] = []
    for f in facts:
        c, base = f["column"], f["dtype"].split("(")[0]
        if f["rows"] > 0 and f["non_null"] == f["rows"]:
            rules.append(NotNullRule(column=c))
        elif f["rows"] > 0 and 0 < f["non_null"]:
            # nullable column: cap the OBSERVED null rate instead of
            # claiming not_null (ceil at 1e-6 keeps the zero-violation
            # contract: the engine's exact null_rate can only tie, never
            # exceed; a tie passes the strict > fence)
            nr = (f["rows"] - f["non_null"]) / f["rows"]
            rules.append(
                AggregateRule(
                    column=c,
                    agg="null_rate",
                    max_value=math.ceil(nr * 1e6) / 1e6,
                )
            )
        if base in NUMERIC_TYPES and f["non_null"] > 0:
            rules.append(
                RangeRule(column=c, min_value=f["min"], max_value=f["max"])
            )
            # aggregate avg fence: observed mean ± 3·stddev_pop (the
            # distribution-collapse tripwire row-level ranges can't
            # express), widened by the 0.005 (18,2)-quantization bound so
            # the fence provably contains the ENGINE's (28,6)-exact avg
            # even for constant columns, and rounded OUTWARD at 1e-6 for
            # cross-engine replayability
            avg = f["s1"] / f["non_null"]
            var = f["s2"] / f["non_null"] - avg * avg
            sigma = math.sqrt(max(var, 0.0))
            rules.append(
                AggregateRule(
                    column=c,
                    agg="avg",
                    min_value=math.floor((avg - 3.0 * sigma - 0.005) * 1e6)
                    / 1e6,
                    max_value=math.ceil((avg + 3.0 * sigma + 0.005) * 1e6)
                    / 1e6,
                )
            )
        if c in value_sets:
            rules.append(ValueSetRule(column=c, allowed=value_sets[c]))
        if (
            base == "string"
            and f["rows"] > 0
            and f["non_null"] == f["rows"]
            and f["distinct"] == f["rows"]
        ):
            rules.append(UniqueRule(columns=(c,)))
    return rules
