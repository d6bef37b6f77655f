"""Column-stat profiling — per-partition aggregates in one pass.

Generalizes the reference's stats CTEs (avg/stddevPop per key —
tinybird/pipes/z_score.pipe:14-19; exact quartiles — iqr.pipe:31-33)
into the north rule's profiling surface: count, null rate, min/max,
approx-distinct (HyperLogLog++ via approx_count_distinct), plus numeric
moments and approx quartiles.

Shape: long format (partition_key, column, stat, value) so adding a
column never changes the schema. One groupBy ⇒ one shuffle for the whole
profile; every aggregate is a JVM built-in with map-side partial
aggregation (no UDFs).
"""

from __future__ import annotations

import math
import operator
from functools import reduce
from itertools import accumulate

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..operators.rules import ProfileSpec

NUMERIC_TYPES = {"int", "bigint", "smallint", "tinyint", "float", "double", "decimal"}
HLL_RSD = 0.05  # profile_table's approx_count_distinct relative error
LG_CONFIG_K = 12  # profile_state's HLL sketch size (log2 of its registers)


def profile_table(
    df: DataFrame, columns: tuple | list, *, partition_col: str = "partition_key"
) -> DataFrame:
    """Per (partition, column) stats of ``columns`` (every column but
    the partition column when empty), long format.

    Returns columns: partition_key, column, stat, value(double) — string
    min/max are profiled via length to stay in one numeric value column.
    """
    dtypes = dict(df.dtypes)
    cols = list(columns) or [c for c in df.columns if c != partition_col]

    aggs = [F.count(F.lit(1)).alias("__rows")]
    per_col: list[tuple[str, str]] = []  # (column, stat) in output order

    def add(col_name: str, stat: str, expr) -> None:
        aggs.append(expr.alias(f"{col_name}::{stat}"))
        per_col.append((col_name, stat))

    for c in cols:
        t = dtypes.get(c, "")
        base = t.split("(")[0]
        add(c, "null_count", F.sum(F.col(c).isNull().cast("long")))
        add(c, "approx_distinct", F.approx_count_distinct(c, HLL_RSD).cast("double"))
        if base in NUMERIC_TYPES:
            add(c, "min", F.min(c).cast("double"))
            add(c, "max", F.max(c).cast("double"))
            add(c, "avg", F.avg(c))
            # explicit sum/sumsq moments, not F.stddev_pop: exact for
            # integer/quantized columns regardless of partial-agg
            # order, and a fixed IEEE op sequence the DuckDB oracle
            # mirrors (Welford streaming moments differ per engine in
            # the last ulp, which the driver's value hash would catch)
            cd = F.col(c).cast("double")
            mean = F.sum(cd) / F.count(c)
            add(
                c,
                "stddev_pop",
                F.sqrt(
                    F.greatest(F.sum(cd * cd) / F.count(c) - mean * mean, F.lit(0.0))
                ),
            )
            add(c, "q1", F.percentile_approx(c, 0.25, 10000).cast("double"))
            add(c, "median", F.percentile_approx(c, 0.5, 10000).cast("double"))
            add(c, "q3", F.percentile_approx(c, 0.75, 10000).cast("double"))
        elif base == "string":
            add(c, "min_length", F.min(F.length(c)).cast("double"))
            add(c, "max_length", F.max(F.length(c)).cast("double"))
            add(c, "avg_length", F.avg(F.length(c)))
        elif base == "binary":
            add(c, "min_size", F.min(F.length(c)).cast("double"))
            add(c, "max_size", F.max(F.length(c)).cast("double"))
            add(c, "avg_size", F.avg(F.length(c)))

    wide = df.groupBy(F.col(partition_col).alias("partition_key")).agg(*aggs)

    # unpivot wide → long with stack(); null_rate folds into the same
    # stack (a union of `long` with a projection of `long` would make
    # Catalyst evaluate the aggregation — and the scan — twice)
    stack_items = []
    for c, stat in per_col:
        stack_items.append(f"'{c}', '{stat}', cast(`{c}::{stat}` as double)")
        if stat == "null_count":
            stack_items.append(
                f"'{c}', 'null_rate', cast(`{c}::{stat}` as double) / cast(__rows as double)"
            )
    n = len(stack_items)
    long = wide.select(
        "partition_key",
        F.col("__rows").alias("rows"),
        F.expr(f"stack({n}, {', '.join(stack_items)}) as (column, stat, value)"),
    )
    return long.select("partition_key", "column", "stat", "value", "rows")


def corr_profile(
    df: DataFrame,
    pairs: list,
    *,
    partition_col: str = "partition_key",
) -> DataFrame:
    """Per-partition Pearson correlation for each (x, y) column pair —
    the cross-column PROFILE companion to FdRule's hard dependency
    check: "transcript length tracks duration" is a statistical
    contract, not a functional one, and its per-partition correlation
    collapsing toward 0 is how a mis-paired (clip, transcript) delivery
    surfaces while every single-column stat stays healthy.

    Pairwise deletion: a row contributes only where BOTH columns are
    non-null (the n_pairs column reports how many). Computed from the
    five conditional sums in one fused groupBy (map-side combinable,
    ~1 output row per partition·pair):

        r = (n·Sxy − Sx·Sy) / (sqrt(n·Sxx − Sx²) · sqrt(n·Syy − Sy²))

    — a fixed IEEE op sequence over sums that are exact for integer /
    quantized columns, so the DuckDB oracle reproduces every double
    bit-for-bit (the profile_table determinism contract; F.corr's
    streaming co-moments differ per engine in the last ulp). Zero
    variance on either side → r NULL (undefined, not 0).
    """
    aggs = []
    for x, y in pairs:
        both = F.col(x).isNotNull() & F.col(y).isNotNull()
        xd = F.when(both, F.col(x).cast("double"))
        yd = F.when(both, F.col(y).cast("double"))
        p = f"{x}::{y}"
        aggs += [
            F.count(F.when(both, F.lit(1))).alias(f"__n_{p}"),
            F.sum(xd).alias(f"__sx_{p}"),
            F.sum(yd).alias(f"__sy_{p}"),
            F.sum(xd * yd).alias(f"__sxy_{p}"),
            F.sum(xd * xd).alias(f"__sxx_{p}"),
            F.sum(yd * yd).alias(f"__syy_{p}"),
        ]
    sums = df.groupBy(partition_col).agg(*aggs)

    parts = []
    for x, y in pairs:
        p = f"{x}::{y}"
        n = F.col(f"__n_{p}").cast("double")
        sx, sy = F.col(f"__sx_{p}"), F.col(f"__sy_{p}")
        sxy, sxx, syy = (
            F.col(f"__sxy_{p}"),
            F.col(f"__sxx_{p}"),
            F.col(f"__syy_{p}"),
        )
        vx = n * sxx - sx * sx
        vy = n * syy - sy * sy
        r = F.when(
            (vx > 0) & (vy > 0),
            (n * sxy - sx * sy) / (F.sqrt(vx) * F.sqrt(vy)),
        )
        parts.append(
            sums.select(
                F.col(partition_col),
                F.lit(x).alias("x_col"),
                F.lit(y).alias("y_col"),
                F.col(f"__n_{p}").alias("n_pairs"),
                r.alias("pearson_r"),
            )
        )
    return reduce(DataFrame.unionByName, parts)


def drift_bin_edges(bounds, bins: int) -> tuple[float, float]:
    """(lo, width) of the fixed equal-width grid over ``bounds``; a
    degenerate range (hi <= lo) widens to one unit so every bin is
    well-defined."""
    lo, hi = float(bounds[0]), float(bounds[1])
    if hi <= lo:
        hi = lo + 1.0
    return lo, (hi - lo) / bins


def drift_histogram(column: str, lo: float, width: float, bins: int) -> Column:
    """Aggregate: the dense per-bin count array of ``column`` on the grid
    (lo, width, bins), NULLs excluded; values outside the grid clamp to
    the edge bins. Drift builds the grid over the frame's own [min, max],
    where the upper clamp keeps the column max (which floors to index
    ``bins``) in the last bin; profile_state's fixed grids clamp on both
    sides."""
    v = F.col(column).cast("double")
    # greatest/least SKIP nulls, so the NULL guard must be explicit
    b = F.when(
        v.isNotNull(),
        F.greatest(
            F.lit(0),
            F.least(F.lit(bins - 1), F.floor((v - F.lit(lo)) / F.lit(width))),
        ),
    )
    return F.array(*[F.count(F.when(b == i, 1)) for i in range(bins)])


def _median(values) -> float:
    """Spark ``percentile(x, 0.5D)``: linear interpolation between the
    order statistics around position (n - 1) / 2."""
    v = sorted(values)
    pos = (len(v) - 1) * 0.5
    lo, hi = math.floor(pos), math.ceil(pos)
    if lo == hi or v[lo] == v[hi]:
        return v[lo]
    return (hi - pos) * v[lo] + (pos - lo) * v[hi]


def _sum_in_order(xs) -> float:
    # plain left-to-right IEEE adds in bin order (no compensated sum)
    return reduce(operator.add, xs, 0.0)


def _shares(counts, alpha: float) -> list[float]:
    """Laplace-smoothed fractions (n + α) / (N + α·len(counts))."""
    total = sum(counts) + alpha * len(counts)
    return [(n + alpha) / total for n in counts]


def _median_baseline(shares: list) -> list[float]:
    """Per-position MEDIAN of the partitions' share vectors (Spark
    ``percentile`` interpolation), renormalized to sum to 1 — robust to
    a minority of drifted partitions, which a global mixture baseline
    would be contaminated by."""
    qraw = [_median(col) for col in zip(*shares, strict=True)]
    qsum = _sum_in_order(qraw)
    return [x / qsum for x in qraw]


def _psi(p: list, q: list) -> float:
    return _sum_in_order((pi - qi) * math.log(pi / qi) for pi, qi in zip(p, q))


def score_drift(hists) -> list[tuple]:
    """KS + PSI + W1 per partition from dense per-bin histograms, on the
    driver: ``hists`` yields (partition_key, counts, bin_width) with one
    count per bin; returns [(partition_key, psi, ks, w1)].

    - Laplace-smoothed fractions p = (n + 0.5) / (N + 0.5 * bins);
    - baseline q = per-bin median of partition fractions, renormalized
      (:func:`_median_baseline`);
    - PSI = Σ (p - q) ln(p / q); KS = max |CDF_p - CDF_q|;
    - W1 (Wasserstein-1 / earth-mover) = Σ |CDF_p - CDF_q| · bin_width —
      the SCALE-AWARE complement: PSI and KS saturate once supports stop
      overlapping (a 1-bin shift and a 10-bin shift both score KS ≈ 1),
      while W1 keeps growing with HOW FAR the mass moved, in the column's
      own units (both CDFs end at 1, so summing over all bins is exact).

    Every sum runs in bin order. A partition whose counts are all zero
    (its column is entirely NULL) has no distribution and is omitted; it
    does not enter the baseline either. O(partitions × bins).
    """
    rows = [(pk, c, w) for pk, c, w in hists if any(c)]
    if not rows:
        return []
    ps = [_shares(c, 0.5) for _, c, _ in rows]
    q = _median_baseline(ps)
    qcum = list(accumulate(q))
    out = []
    for (pk, _, width), p in zip(rows, ps):
        dcdf = [abs(a - b) for a, b in zip(accumulate(p), qcum)]
        out.append((pk, _psi(p, q), max(dcdf), _sum_in_order(dcdf) * width))
    return out


def drift_frame(spark, scores: list[tuple], key_type) -> DataFrame:
    """``score_drift`` rows as a (partition_key, psi, ks, w1) frame
    planned as a LocalRelation (no scan, no Python worker)."""
    from ..session import local_frame

    schema = StructType([
        StructField("partition_key", key_type),
        *[StructField(c, DoubleType()) for c in ("psi", "ks", "w1")],
    ])
    return local_frame(spark, schema, scores)


def drift_scores(
    df: DataFrame,
    column: str,
    *,
    partition_col: str,
    bins: int = 20,
) -> DataFrame:
    """Per-partition KS + PSI + W1 of `column` vs a robust consensus
    baseline (the math of :func:`score_drift`).

    The engine's DriftRule stats pass (operators/compiler.
    _partition_stats) as a standalone operator, so any table/axis can be
    scored and the DuckDB oracle can verify it SQL-side
    (__spark_entry__.drift_events): fixed equal-width bins over the
    frame's own [min, max] (one cheap column-pruned driver agg fixes the
    edges), then ONE grouped action collects a dense per-bin count array
    per partition, scored on the driver.

    Returns (partition_key, psi, ks, w1) for ALL partitions
    (thresholding is the caller's policy); an all-NULL column returns no
    rows with the same schema. NULLs in `column` are excluded. Eager:
    both actions run before this returns.
    """
    from ..operators.compiler import _partition_stats
    from ..operators.rules import DriftRule

    rule = DriftRule(column, bins=bins)
    _, drift, _ = _partition_stats(df, [], [rule], partition_col=partition_col)
    return drift[column, bins]


def categorical_scores(
    df: DataFrame,
    column: str,
    *,
    partition_col: str,
    smoothing: float = 0.5,
) -> DataFrame:
    """Per-partition PSI + Shannon entropy of a CATEGORICAL column's
    value mix — the unordered-domain sibling of :func:`drift_scores`
    (codec / sr_hz-mode mixes have no bin order, so KS is meaningless
    and the histogram is the value domain itself).

    ONE collected (partition, value) count groupBy, scored on the driver
    with :func:`score_drift`'s baseline math over the dense partition ×
    observed-domain grid (absent categories count 0):

    - Laplace-smoothed shares p = (n + α) / (N + α·V), α = `smoothing`,
      V = |observed domain|;
    - baseline q = per-category median of partition shares, renormalized
      (:func:`_median_baseline`);
    - PSI = Σ (p − q) ln(p / q);
    - entropy H = −Σ (n/N) ln(n/N) over the UNsmoothed observed mix
      (zero-count categories contribute 0; a single-valued partition
      scores exactly 0.0).

    Every sum runs in sorted-value order. Returns (partition_key, psi,
    entropy) for ALL partitions (thresholding is the caller's policy),
    planned as a LocalRelation. NULLs in `column` are excluded. Eager:
    the count action runs before this returns; its result is ≤
    partitions × V rows.
    """
    from ..session import local_frame

    counts: dict = {}
    for pk, value, n in (
        df.filter(F.col(column).isNotNull())
        .groupBy(F.col(partition_col), F.col(column).cast("string").alias("value"))
        .agg(F.count(F.lit(1)))
        .collect()
    ):
        counts.setdefault(pk, {})[value] = n
    domain = sorted({v for mix in counts.values() for v in mix})
    grid = [[mix.get(v, 0) for v in domain] for mix in counts.values()]
    ps = [_shares(c, smoothing) for c in grid]
    q = _median_baseline(ps)
    rows = []
    for pk, c, p in zip(counts, grid, ps):
        total = sum(c)
        shares = [n / total for n in c if n > 0]
        rows.append((pk, _psi(p, q), _sum_in_order(-s * math.log(s) for s in shares)))
    schema = StructType([
        StructField("partition_key", df.schema[partition_col].dataType),
        *[StructField(c, DoubleType()) for c in ("psi", "entropy")],
    ])
    return local_frame(df.sparkSession, schema, rows)


# --- incremental / mergeable profiling --------------------------------------


def profile_aggs(spec: ProfileSpec) -> list[Column]:
    """The aggregates of a profile-state row after its ``rows`` count,
    in stored column order; compile_rules lowers a ruleset's
    ProfileSpec into the partition-stats pass with this list."""
    aggs: list = []
    for c in spec.numeric_columns:
        vd = F.col(c).cast("decimal(18,2)")
        aggs += [
            F.count(c).alias(f"{c}__nonnull"),
            F.min(c).cast("double").alias(f"{c}__min"),
            F.max(c).cast("double").alias(f"{c}__max"),
            F.sum(vd).cast("decimal(38,2)").alias(f"{c}__sum"),
            F.sum(vd * vd).cast("decimal(38,4)").alias(f"{c}__sumsq"),
        ]
    for c in spec.distinct_columns:
        aggs.append(
            F.hll_sketch_agg(F.col(c).cast("string"), F.lit(LG_CONFIG_K)).alias(
                f"{c}__hll"
            )
        )
    for c, lo, hi, nbins in spec.histogram_columns:
        width = (float(hi) - float(lo)) / int(nbins)
        aggs += [
            # the stored state's type, array<bigint> with nullable
            # elements: the optimizer drops a plain widening cast
            # (SimplifyCasts), not a concat with a typed empty array
            F.concat(
                drift_histogram(c, float(lo), width, int(nbins)),
                F.array().cast("array<bigint>"),
            ).alias(f"{c}__hist"),
            F.lit(float(lo)).alias(f"{c}__hlo"),
            F.lit(float(hi)).alias(f"{c}__hhi"),
        ]
    return aggs


def profile_state(
    df: DataFrame,
    *,
    partition_col: str = "partition_key",
    numeric_columns: tuple[str, ...] | list[str] = (),
    distinct_columns: tuple[str, ...] | list[str] = (),
    histogram_columns: dict[str, tuple[float, float, int]] | None = None,
) -> DataFrame:
    """One MERGEABLE profile-state row per partition: exact decimal
    moments for numeric columns plus a Datasketches HLL binary per
    distinct-counted column.

    Global corpus stats are maintained INCREMENTALLY: each partition's
    state comes from that partition's rows only, and
    `merge_profile_states` rolls the global profile up from the slim
    state table (O(partitions) rows) without touching the corpus — the
    profiling analog of the lineage-resume contract
    (streaming/checkpoint.py), where the reference recomputes its stats
    CTEs per query (tinybird/pipes/z_score.pipe:14-19). A validation
    run gets the same rows from its ruleset's ProfileSpec, in the
    partition-stats pass (:func:`profile_aggs`).

    Mergeability per stat — every one is algebraic, no holistic aggregate:
    - rows / nonnull: longs, merge = sum
    - min / max: doubles, merge = min / max
    - sum / sumsq: EXACT decimal(38,2)/(38,4) sums (values are quantized
      ~2-decimal; decimal addition is associative, so the merged moments
      are bit-identical regardless of partition order — the same
      float-parity discipline as profile_table's stddev)
    - distinct: HLL sketch binary, merge = register-wise max (union);
      exact while the sketch is in its coupon-list regime, ~1.6%/sqrt-k
      beyond (callers pick which columns get a sketch accordingly)

    Quantiles: Spark exposes no mergeable quantile state as a binary
    (percentile_approx is holistic per query), so `histogram_columns`
    carries a fixed-bin histogram instead — `{col: (lo, hi, nbins)}`
    counts per equal-width bin (out-of-range values clamp to the edge
    bins), merged by element-wise sum, quantiles estimated by linear
    interpolation within the covering bin (error ≤ one bin width). The
    bounds are part of the state (self-describing), and MUST be held
    fixed across runs for states to merge — the same fixed-grid contract
    as drift_scores' bins.
    """
    hists = tuple((c, *g) for c, g in (histogram_columns or {}).items())
    spec = ProfileSpec(tuple(numeric_columns), tuple(distinct_columns), hists)
    return df.groupBy(F.col(partition_col).alias("partition_key")).agg(
        F.count(F.lit(1)).alias("rows"), *profile_aggs(spec)
    )


def combine_profile_states(states: DataFrame) -> DataFrame:
    """Pairwise (n-wise) merge of profile-state rows PER PARTITION: many
    state rows per partition_key in → exactly one out, same schema.

    This is the accumulation primitive the streaming path needs: each
    micro-batch profiles only the rows it delivered, so a partition's
    true state is the merge of all its batch states. merge_profile_states
    rolls everything up to ONE global long-format profile; this keeps the
    per-partition grain so the result can be stored back as the state
    table (and drift_from_states can score it).

    Merge algebra per stat (the profile_state contract): rows/nonnull
    sum; min/max min/max; sum/sumsq EXACT decimal sums (order-invariant);
    HLL sketches register-wise union (hll_union_agg — identical registers
    to sketching the union directly at equal lgK, so estimates are
    bit-equal, not merely close); histograms element-wise long sums.
    __hlo/__hhi ride along via first() — the fixed-grid merge contract
    (profile_state's docstring) makes them constant per column.

    Stat fields are introspected from the schema like
    merge_profile_states, so old states merge without re-declaration.
    """
    numeric = [f.rsplit("__", 1)[0] for f in states.columns if f.endswith("__sum")]
    distinct = [f.rsplit("__", 1)[0] for f in states.columns if f.endswith("__hll")]
    hist = [f.rsplit("__", 1)[0] for f in states.columns if f.endswith("__hist")]

    aggs: list = [F.sum("rows").alias("rows")]
    for c in numeric:
        aggs += [
            F.sum(f"{c}__nonnull").alias(f"{c}__nonnull"),
            F.min(f"{c}__min").alias(f"{c}__min"),
            F.max(f"{c}__max").alias(f"{c}__max"),
            F.sum(f"{c}__sum").cast("decimal(38,2)").alias(f"{c}__sum"),
            F.sum(f"{c}__sumsq").cast("decimal(38,4)").alias(f"{c}__sumsq"),
        ]
    for c in distinct:
        aggs.append(
            F.hll_union_agg(f"{c}__hll", F.lit(True)).alias(f"{c}__hll")
        )
    for c in hist:
        # element-wise sum of the dense per-bin arrays; collect_list's
        # order-nondeterminism is immaterial under a commutative sum
        aggs += [
            F.collect_list(f"{c}__hist").alias(f"__hl_{c}"),
            F.first(f"{c}__hlo").alias(f"{c}__hlo"),
            F.first(f"{c}__hhi").alias(f"{c}__hhi"),
        ]
    out = states.groupBy("partition_key").agg(*aggs)
    for c in hist:
        out = out.withColumn(
            f"{c}__hist",
            F.aggregate(
                f"__hl_{c}",
                F.expr("cast(array() as array<bigint>)"),
                lambda acc, x: F.when(F.size(acc) == 0, x).otherwise(
                    F.zip_with(acc, x, lambda a, b: a + b)
                ),
            ),
        ).drop(f"__hl_{c}")
    # restore profile_state's column order so unionByName-free consumers
    # (and parquet schema evolution) see a stable layout
    return out.select(*states.columns)


def merge_profile_states(states: DataFrame) -> DataFrame:
    """Global long-format profile (column, stat, value:double) from
    per-partition mergeable states — reads ONLY the slim state table.

    Stat fields are introspected from the state schema (`<col>__<stat>`
    names), so states written by an earlier run / release merge without
    the caller re-declaring the column lists."""
    numeric = [f.rsplit("__", 1)[0] for f in states.columns if f.endswith("__sum")]
    distinct = [f.rsplit("__", 1)[0] for f in states.columns if f.endswith("__hll")]

    aggs: list = [F.sum("rows").alias("rows")]
    for c in numeric:
        aggs += [
            F.sum(f"{c}__nonnull").alias(f"{c}__nonnull"),
            F.min(f"{c}__min").alias(f"{c}__min"),
            F.max(f"{c}__max").alias(f"{c}__max"),
            F.sum(f"{c}__sum").alias(f"{c}__sum"),
            F.sum(f"{c}__sumsq").alias(f"{c}__sumsq"),
        ]
    for c in distinct:
        aggs.append(
            F.hll_sketch_estimate(
                F.hll_union_agg(f"{c}__hll", F.lit(True))
            ).alias(f"{c}__nd")
        )
    g = states.agg(*aggs)

    # long projection: one row per (column, stat)
    rows_expr: list = []
    rows_expr.append(("_table_", "rows", F.col("rows").cast("double")))
    for c in numeric:
        nn = F.col(f"{c}__nonnull")
        mean = F.col(f"{c}__sum").cast("double") / nn
        var = F.col(f"{c}__sumsq").cast("double") / nn - mean * mean
        rows_expr += [
            (c, "null_count", (F.col("rows") - nn).cast("double")),
            (c, "null_rate", (F.col("rows") - nn).cast("double") / F.col("rows")),
            (c, "min", F.col(f"{c}__min")),
            (c, "max", F.col(f"{c}__max")),
            (c, "avg", mean),
            (c, "stddev_pop", F.sqrt(F.greatest(var, F.lit(0.0)))),
        ]
    for c in distinct:
        rows_expr.append((c, "n_distinct", F.round(F.col(f"{c}__nd"))))

    structs = F.array(
        *[
            F.struct(
                F.lit(col).alias("column"), F.lit(stat).alias("stat"), v.alias("value")
            )
            for col, stat, v in rows_expr
        ]
    )
    long = g.select(F.explode(structs).alias("s")).select(
        "s.column", "s.stat", "s.value"
    )
    hist = [f.rsplit("__", 1)[0] for f in states.columns if f.endswith("__hist")]
    for c in hist:
        long = long.unionByName(_hist_quantile_rows(states, c))
    return long


def _hist_quantile_rows(
    states: DataFrame, c: str, qs: tuple[float, ...] = (0.25, 0.5, 0.75)
) -> DataFrame:
    """(column, stat, value) quantile estimates from the element-wise sum
    of per-partition fixed-bin histograms: the covering bin is the first
    with cumulative count ≥ q·N, interpolated linearly within the bin.
    Everything operates on the slim (partitions × bins) relation — at any
    corpus size this is a driver-sized computation expressed as
    DataFrame ops."""
    from pyspark.sql import Window

    h = states.select(
        F.posexplode(f"{c}__hist").alias("bin", "cnt"),
        F.col(f"{c}__hlo").alias("lo"),
        F.col(f"{c}__hhi").alias("hi"),
    )
    merged = h.groupBy("bin").agg(
        F.sum("cnt").alias("n"),
        F.first("lo").alias("lo"),
        F.first("hi").alias("hi"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    merged = merged.withColumn("cum", F.sum("n").over(w))
    totals = merged.agg(
        F.sum("n").alias("total_n"), F.count(F.lit(1)).alias("nbins")
    )
    m = merged.crossJoin(F.broadcast(totals))
    out = None
    for q, stat in zip(qs, ("approx_q25", "approx_median", "approx_q75")):
        target = F.col("total_n") * F.lit(q)
        width = (F.col("hi") - F.col("lo")) / F.col("nbins")
        val = F.col("lo") + width * (
            F.col("bin") + (target - (F.col("cum") - F.col("n"))) / F.col("n")
        )
        row = (
            m.filter((F.col("cum") >= target) & (F.col("n") > 0))
            .orderBy("bin")
            .limit(1)
            .select(
                F.lit(c).alias("column"),
                F.lit(stat).alias("stat"),
                val.alias("value"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def topk_values(
    df: DataFrame,
    columns: list,
    *,
    k: int = 5,
    partition_col: str = "partition_key",
) -> DataFrame:
    """Frequent-items profile: the top-k most frequent values per
    (partition, column), with counts — the categorical complement of
    profile_table's numeric stats (a codec mix flipping from 90/10 to
    50/50 is invisible to min/max/null-rate but obvious here; the
    reference surfaces exactly this as its per-detector GROUP BY counts,
    tinybird/pipes/anomalies_summary_api.pipe).

    Output: (partition_key, column, value:string, n, rank), rank 1..k by
    (count DESC, value ASC) — the value tie-break makes the relation
    deterministic, so it is diffable across runs and engine-comparable.

    Scale shape: one unpivot projection (no shuffle) → one partial-agg
    groupBy per (partition, column, value) → a rank window over groups
    of at most |distinct values| rows. Exact counting is the right call
    for the categorical columns this profiles (codec, sr_hz: tiny
    domains); for genuinely high-cardinality columns the groupBy state
    is the full domain per partition — cap those with a domain check
    (ValueSetRule) or profile approx_distinct instead, as noted here
    rather than silently sketching.
    """
    from pyspark.sql import Window

    pairs = []
    for c in columns:
        pairs += [F.lit(c), F.col(c).cast("string")]
    unpivoted = df.select(
        F.col(partition_col),
        F.explode(F.create_map(*pairs)).alias("column", "value"),
    ).filter(F.col("value").isNotNull())
    counts = unpivoted.groupBy(partition_col, "column", "value").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy(partition_col, "column").orderBy(
        F.col("n").desc(), F.col("value").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(partition_col, "column", "value", "n", "rank")
    )


def drift_from_states(states: DataFrame, column: str) -> DataFrame:
    """KS/PSI/W1 drift per partition computed from the MERGEABLE profile
    states' stored histograms — zero corpus IO.

    `drift_scores` re-bins the raw column every run; at 10^12 rows that
    is a full-corpus scan per drift check. The checkpointed state table
    (profile_state's `{column}__hist`, maintained per validated
    partition by the ruleset's profile entry) already holds the
    fixed-grid per-partition histograms, so the drift check collects
    O(partitions x bins) counts from the slim state table and scores
    them through the same driver-side :func:`score_drift` — parity with
    drift_scores over the same grid is test-asserted.

    The one semantic difference is the GRID: drift_scores bins over the
    current run's global [min, max]; the state grid is the FIXED
    (lo, hi, nbins) declared when the state was first written (the
    merge contract). Fixed grids are what make run-over-run drift
    comparable anyway — the bounds travel inside the state
    (`{column}__hlo/__hhi`), self-describing, and the bin count is the
    stored array's length.

    State rows with a NULL histogram (the column was never
    histogram-profiled for that partition) are skipped, and all-zero
    histograms are omitted by the scorer, as drift_scores omits an
    all-NULL partition.
    """
    rows = (
        states.filter(F.col(f"{column}__hist").isNotNull())
        .select(
            "partition_key",
            F.col(f"{column}__hist").alias("h"),
            F.col(f"{column}__hlo").alias("lo"),
            F.col(f"{column}__hhi").alias("hi"),
        )
        .collect()
    )
    return drift_frame(
        states.sparkSession,
        score_drift(
            (r["partition_key"], r["h"], (r["hi"] - r["lo"]) / len(r["h"]))
            for r in rows
        ),
        states.schema["partition_key"].dataType,
    )
