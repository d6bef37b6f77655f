"""Rule → DataFrame-plan compiler.

This is the layer the reference does not have (its five detectors are five
independent SQL queries re-run every minute; its docs call out the cost of
that — reference: content/copies-pipes.md:13). Here ALL rules over a table
compile into ONE plan that Catalyst can optimize as a whole. Rules are
grouped by exact class; each class is lowered once, onto the shared passes:

at compile time, one collected partition-stats action (_partition_stats):
 └─ ONE groupBy(partition).agg over the column-pruned pre-payload frame:
     row count (rows_checked, volume fences), IQR quartiles, latest
     seq/key (staleness), MAD medians, AggregateRule values, Benford
     digit counts, reconciliation totals, a dense per-bin count array
     per drift column and the ProfileSpec state (CompiledPlan.profile);
     the rows come back as LocalRelations, and drift and the volume
     median are computed on the driver. Drift bin edges cost one more
     min/max collect, and each categorical column one collected
     (partition, value) count (functions/stats.categorical_scores).

the lazy violations plan:
scan (column-pruned: only referenced columns are read)
 ├─ the payload pass (audio, image or video decode, only if requested):
 │   one zero-copy functions/payload.map_payloads Arrow pass; it consumes
 │   and DROPS the payload column so every later stage flows narrow rows
 ├─ one left join to the manifest (referential, transcript, match rules)
 ├─ one Window pass over (partition, seq): each window rule class names
 │   its inputs in _WINDOW_INPUTS; they share one WindowSpec, so Spark
 │   evaluates them in a single Window exec → a single shuffle
 ├─ broadcast joins of per-partition baselines: IQR fences and MAD
 │   medians from the stats rows (≙ reference JOIN stats ON id —
 │   tinybird/pipes/iqr.pipe:49-50; MAD stage 2 reuses that broadcast),
 │   MADs and seasonal moments; rules with equal stats keys share one
 │   set of helper columns
 └─ fused violation projection: _ROW_LOWERINGS maps each row-local or
     window rule class to its (detector, cond, observed, note); _flag
     wraps them as WHEN(cond, struct) elements and _exploded's
     array_compact + explode emits the violation rows in the same stage.

Table-level rules (staleness, unique, FD, aggregate fences, completeness,
drift, categorical, Benford, reconciliation, volume) aggregate instead of
scanning per row; those that read one row per partition filter or
project the stats rows. Each emits its rows through one VIOLATION_COLUMNS
emitter, and all are unioned into the same violations output. The fence
rules (range, aggregate, entropy, volume, audio QC) build their condition
and note through _fence; z-score and seasonal share _moments_z.

Scale notes (100 TB / 10^12 rows):
- the only wide shuffle is the Window pass, keyed by the table's physical
  partition key → co-partitioned with the Iceberg layout; skewed
  partitions are split by AQE or by the chunked window path
  (window_chunk_size), and every baseline join is a broadcast.
- the violation projection multiplies nothing: array_compact drops
  non-violations before the explode, so the exploded row count equals the
  violation count (≪ input).
"""

from __future__ import annotations

import math
import operator
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .rules import (
    AggregateRule,
    AudioDecodeRule,
    AudioQcRule,
    BenfordRule,
    CalibratedRangeRule,
    CategoricalDriftRule,
    CompletenessRule,
    CusumRule,
    DriftRule,
    EntropyRule,
    EwmaRule,
    FdRule,
    GapRule,
    ImageDecodeRule,
    IqrRule,
    MadRule,
    MonotonicRule,
    NotNullRule,
    PatternRule,
    PayloadSizeRule,
    PredicateRule,
    ProfileSpec,
    RefMatchRule,
    RangeRule,
    RateOfChangeRule,
    ReconciliationRule,
    RefIntegrityRule,
    SeasonalRule,
    SpeechRateRule,
    TranscriptDistanceRule,
    TranscriptRule,
    UniqueRule,
    ValueSetRule,
    VideoDecodeRule,
    VolumeRule,
    ZScoreRule,
)

# Violation log contract — transposed from the reference's copy_log
# (tinybird/datasources/copy_log.datasource:3-8): id→clip_id,
# anomaly_type→detector, note→note; partition_key added as the verdict axis.
VIOLATION_COLUMNS = ["partition_key", "clip_id", "detector", "observed", "note"]


def _fmt(col: Column, digits: int = 2) -> Column:
    """Float → string for note fields: ROUND(x, 2) then cast.

    ≙ the reference's toString(ROUND(x, 2)) note idiom
    (tinybird/pipes/copy_rate_of_change.pipe:52-56).
    """
    return F.round(col.cast("double"), digits).cast("string")


def _decode_check(
    ok_col: str, err_col: str, err_label: str, parts: list
) -> tuple[Column, Column, Column]:
    """(cond, decoded, note) of a payload decode rule (image, video).

    ``parts`` lists (decoded column, declared column or None, separator)
    per checked dimension; the separator precedes the part in the
    ``decoded:…| declared:…| <err_label>:<err>`` note. A row violates when
    the decode failed or a decoded value differs from its declared one.
    Decode failure leaves the decoded columns NULL, so the mismatch arms
    are NULL and the OR reduces to the failure arm exactly once. Missing
    declared metadata is "no cross-check", not a violation, and NULLs
    print as "?" so they never NULL the note (losing the error text).
    """

    def _s(c: str) -> Column:
        return F.coalesce(F.col(c).cast("string"), F.lit("?"))

    cond = ~F.col(ok_col)
    decoded_bits: list[Column] = []
    declared_bits: list[Column] = []
    for dec, decl, sep in parts:
        if decoded_bits:
            decoded_bits.append(F.lit(sep))
        decoded_bits.append(_s(dec))
        if decl is not None:
            cond = cond | (F.col(dec) != F.col(decl))
            if declared_bits:
                declared_bits.append(F.lit(sep))
            declared_bits.append(_s(decl))
    decoded = F.concat(*decoded_bits)
    note = F.concat(
        F.lit("decoded:"), decoded,
        F.lit("| declared:"),
        F.concat(*declared_bits) if declared_bits else F.lit("-"),
        F.lit(f"| {err_label}:"), F.coalesce(F.col(err_col), F.lit("")),
    )
    return cond, decoded, note


@dataclass
class CompiledPlan:
    """Lazy outputs of compiling a rule set against a table."""

    violations: DataFrame  # VIOLATION_COLUMNS
    rows_checked: DataFrame  # (partition_key, rows_checked)
    detectors: list  # detector names evaluated (for verdict assembly)
    # detectors whose violation_count is O(1) per partition regardless of
    # partition size (staleness, drift): a RATE tolerance would silently
    # disable them at production row counts (1 <= rate * 10^6), so the
    # verdict layer keeps exact any-violation-fails semantics for these.
    partition_level: list = field(default_factory=list)
    # the ProfileSpec's state rows (functions/stats.profile_state layout)
    profile: DataFrame | None = None


def expected_payload_bytes(
    codec_sizes,
    *,
    codec_col: str = "codec",
    sr_col: str = "sr_hz",
    dur_col: str = "dur_ms",
) -> Column:
    """Expected payload octet length from declared metadata only — no
    decode: n_samples = max(1, round(sr·dur/1000)) (the encoder
    contract, functions/audio.py:64), expected = header + bps·n_samples
    per ``codec_sizes`` triple. rint = round-half-to-even, matching
    Python round() in the encoder (sr·dur/1000 lands on .5 for e.g.
    44100 Hz × odd ms); sr·dur is exact in double far past any real
    (sr, dur).

    NULL when the codec is unknown (ValueSetRule owns the domain) or
    when sr/dur is NULL (NotNullRule owns null policy — Spark's
    ``greatest`` SKIPS nulls, so without the explicit guard a NULL rate
    would collapse n_samples to 1 and false-flag an intact payload).

    The single source of this formula — PayloadSizeRule's compiled
    condition and the payload_bytes report query both build on it, so
    the codec table and rounding contract cannot drift apart.
    """
    sr = F.col(sr_col).cast("double")
    dur = F.col(dur_col).cast("double")
    n_samples = F.when(
        sr.isNotNull() & dur.isNotNull(),
        F.greatest(F.lit(1), F.rint(sr * dur / F.lit(1000.0)).cast("long")),
    )
    expected = F.lit(None).cast("long")
    for codec, header, bps in codec_sizes:
        expected = F.when(
            F.col(codec_col) == F.lit(codec),
            F.lit(int(header)) + F.lit(int(bps)) * n_samples,
        ).otherwise(expected)
    return expected


def _exemption_filter(
    base: DataFrame,
    exclusion_windows: DataFrame,
    *,
    partition_col: str,
    seq_col: str,
) -> DataFrame:
    """Drop rows falling inside a declared exclusion window — the
    maintenance-window exemption (violations raised during declared
    downtime are excused, not counted).

    ``exclusion_windows``: (partition_key, start_seq, end_seq) ranges on
    the sequence axis, half-open [start, end) like
    :func:`..joins.interval_join`. The window set is operator-declared
    (≪ data), so it aggregates to ONE array row per partition and
    broadcast-joins in — the fact side never shuffles and the
    containment test is a row-local ``exists`` over the array. Applied
    ONLY to the row-level violation projection, so rolling stats,
    aggregate fences and rows_checked still see every row: exemption
    excuses a row's violations, it does not remove the row from the
    data.
    """
    missing = [
        c
        for c in ("partition_key", "start_seq", "end_seq")
        if c not in exclusion_windows.columns
    ]
    if missing:
        raise ValueError(
            f"exclusion_windows missing columns {missing}; "
            "expected (partition_key, start_seq, end_seq)"
        )
    win = (
        exclusion_windows.filter(F.col("start_seq") < F.col("end_seq"))
        .groupBy(F.col("partition_key").alias(partition_col))
        .agg(
            F.collect_list(
                F.struct(
                    F.col("start_seq").cast("long").alias("s"),
                    F.col("end_seq").cast("long").alias("e"),
                )
            ).alias("__excl_windows")
        )
    )
    seq = F.col(seq_col).cast("long")
    exempt = F.coalesce(
        F.exists("__excl_windows", lambda w: (seq >= w["s"]) & (seq < w["e"])),
        F.lit(False),
    )
    return (
        base.join(F.broadcast(win), partition_col, "left")
        .filter(~exempt)
        .drop("__excl_windows")
    )


def _flag(detector: str, cond: Column, observed: Column, note: Column) -> Column:
    """One rule's element of a fused violation array: its violation
    struct where ``cond`` holds, NULL elsewhere."""
    return F.when(
        cond,
        F.struct(
            F.lit(detector).alias("detector"),
            observed.cast("string").alias("observed"),
            note.cast("string").alias("note"),
        ),
    )


def _exploded(
    frame: DataFrame, partition: Column, clip_id: Column, flags: list
) -> DataFrame:
    """VIOLATION_COLUMNS rows of ``_flag`` elements evaluated per row of
    ``frame``. array_compact drops non-violations pre-explode, so the
    exploded cardinality is the number of violations, not rows × rules;
    every element reads the same row, so adding a rule never adds a scan
    (Catalyst does not CSE across union branches)."""
    return frame.select(
        partition.alias("partition_key"),
        clip_id.alias("clip_id"),
        F.explode(F.array_compact(F.array(*flags))).alias("v"),
    ).select(
        "partition_key",
        "clip_id",
        F.col("v.detector").alias("detector"),
        F.col("v.observed").alias("observed"),
        F.col("v.note").alias("note"),
    )


def _fence(
    checks: list, *, cast=None, spec: str = "g", extra: tuple = ()
) -> tuple[Column, list[str]]:
    """(cond, note bits) of a fence rule's declared bounds.

    ``checks`` holds one (value, op, bound, label) per one-sided bound; a
    None bound is not declared. A declared bound ORs
    ``op(value, lit(cast(bound)))`` into the cond and adds
    ``label:bound`` (formatted with ``spec``) to the note. ``extra``
    (cond, note bit) pairs follow, for bounds that are not one literal.
    """
    conds, bits = [], []
    for value, op, bound, label in checks:
        if bound is not None:
            conds.append(op(value, F.lit(cast(bound) if cast else bound)))
            bits.append(f"{label}:{bound:{spec}}")
    for cond, bit in extra:
        conds.append(cond)
        bits.append(bit)
    return reduce(operator.or_, conds), bits


def _moments_z(
    s1: Column, s2: Column, n: Column, x: Column, min_count: int
) -> tuple[Column, Column, Column]:
    """(z, mean, stddev_pop) of ``x`` against a baseline given by its
    sum, sum of squares and count: one fixed IEEE op sequence any engine
    (the DuckDB oracle) reproduces bit-for-bit. z is NULL below
    ``min_count`` or at zero spread."""
    avg = s1 / n
    std = F.sqrt(F.greatest(s2 / n - avg * avg, F.lit(0.0)))
    return F.when((n >= min_count) & (std > 0), (x - avg) / std), avg, std


def _stat_key(r: IqrRule | MadRule) -> tuple:
    """Rules with equal keys share one set of per-partition stats."""
    return type(r), r.column, r.exact, r.accuracy


def _quantile(r: IqrRule | MadRule, c: Column, q: float) -> Column:
    """The ``q`` quantile of ``c`` an IQR/MAD rule fences with: exact
    at test scale (quantileExact ≙ tinybird/pipes/iqr.pipe:31-33),
    approximate at 10^12 scale (north star; SURVEY.md §4.2.5)."""
    if r.exact:
        return F.percentile(c, F.lit(q))
    return F.percentile_approx(c, q, r.accuracy)


def _ref_table(refs: dict, name: str, r, partition_col: str | None = None):
    """Ref table ``name`` of rule ``r``; with ``partition_col``, it must
    expose that column (the verdict axis of the rows emitted from it)."""
    if name not in refs:
        raise ValueError(
            f"{type(r).__name__}: unknown ref table {name!r} (pass it via refs=)"
        )
    if partition_col is not None and partition_col not in refs[name].columns:
        raise ValueError(
            f"{type(r).__name__}: ref table {name!r} must expose the "
            f"partition column {partition_col!r}"
        )
    return refs[name]


@dataclass(frozen=True)
class _Scope:
    """What a row lowering reads besides its rule: the sequence column,
    each rule's index among the rules of its class (``pos``, by id; it
    names per-rule helper columns) and the column tag of each shared
    IQR/MAD stats key (``tags``)."""

    seq_col: str | None
    pos: dict
    tags: dict


# ---- row lowerings: each turns one rule of its class into the
# (detector, cond, observed, note) of its element in the fused violation
# projection; the helper columns they read are built by the passes of
# compile_rules


def _range(r: RangeRule, s: _Scope):
    v = F.col(r.column)
    cond, bits = _fence(
        [(v, operator.lt, r.min_value, "min"), (v, operator.gt, r.max_value, "max")]
    )
    # note ≙ concat('min:', toString(min), ' max:', toString(max))
    #   — copy_out_of_range.pipe:44
    return r.detector, cond, v, F.lit(" ".join(bits))


def _calibrated_range(r: CalibratedRangeRule, s: _Scope):
    seq = F.col(s.seq_col).cast("long")
    # latest revision with eff_seq <= seq; try_element_at (not
    # element_at) because ANSI mode errors on the empty-array
    # pick a pre-first-revision row produces
    eff = F.try_element_at(
        F.filter(F.col(f"__cal_{s.pos[id(r)]}"), lambda w: w["s"] <= seq),
        F.lit(-1),
    )
    v = F.col(r.column).cast("double")
    viol = (v < eff["lo"]) | (v > eff["hi"])
    if r.require_revision:
        # no revision in effect is itself the violation (NULL
        # values still skip: `viol` is NULL there, and the
        # uncalibrated branch fires regardless of value — an
        # uncalibrated row is a process defect, not a value one)
        cond = F.when(eff.isNotNull(), viol).otherwise(F.lit(True))
    else:
        cond = F.when(eff.isNotNull(), viol)  # NULL → dropped
    # RangeRule's note idiom + the revision that supplied the
    # bounds, so an operator can trace a violation to the exact
    # calibration that raised it
    note = F.when(
        eff.isNotNull(),
        F.concat(
            F.lit("min:"), _fmt(eff["lo"]),
            F.lit(" max:"), _fmt(eff["hi"]),
            F.lit("| eff_seq:"), eff["s"].cast("string"),
        ),
    ).otherwise(F.lit("no calibration revision in effect"))
    return r.detector, cond, F.col(r.column), note


def _not_null(r: NotNullRule, s: _Scope):
    cond = F.col(r.column).isNull()
    if r.treat_empty_as_null:
        cond = cond | (F.col(r.column).cast("string") == F.lit(""))
    note = F.lit(f"column:{r.column} must not be null")
    return r.detector, cond, F.lit("null"), note


def _value_set(r: ValueSetRule, s: _Scope):
    cond = ~F.col(r.column).isin(*r.allowed) | F.col(r.column).isNull()
    note = F.lit(f"column:{r.column} allowed:" + ",".join(map(str, r.allowed)))
    return r.detector, cond, F.col(r.column), note


def _pattern(r: PatternRule, s: _Scope):
    matches = F.col(r.column).cast("string").rlike(r.pattern)
    cond = F.col(r.column).isNotNull() & (matches if r.negate else ~matches)
    verb = "must not match" if r.negate else "must match"
    note = F.lit(f"column:{r.column} {verb} pattern:{r.pattern}")
    return r.detector, cond, F.col(r.column), note


def _payload_size(r: PayloadSizeRule, s: _Scope):
    expected = expected_payload_bytes(
        r.codec_sizes,
        codec_col=r.codec_column,
        sr_col=r.sr_column,
        dur_col=r.dur_column,
    )
    # precomputed before the audio pass (which drops the payload)
    found = F.col(f"__octets_{r.bytes_column}")
    # unknown codecs not evaluated (ValueSetRule owns the domain);
    # NULL payloads not evaluated (NotNullRule owns null policy)
    cond = (
        expected.isNotNull()
        & found.isNotNull()  # octet_length(NULL) is NULL
        & (found != expected)
    )
    note = F.concat(
        F.lit("expected_bytes:"), expected.cast("string"),
        F.lit("| found_bytes:"), found.cast("string"),
        F.lit("| codec:"), F.col(r.codec_column),
    )
    return r.detector, cond, found.cast("string"), note


def _speech_rate(r: SpeechRateRule, s: _Scope):
    cps = F.when(
        F.col(r.dur_col) > 0,
        F.length(F.col(r.column)).cast("double")
        * 1000.0
        / F.col(r.dur_col).cast("double"),
    )
    cond = (cps < F.lit(r.min_cps)) | (cps > F.lit(r.max_cps))
    note = F.concat(
        F.lit("cps:"),
        _fmt(cps),
        F.lit(f"| min_cps:{r.min_cps:g}| max_cps:{r.max_cps:g}"),
    )
    return r.detector, cond, _fmt(cps), note


def _rate_of_change(r: RateOfChangeRule, s: _Scope):
    prev_v = F.col(f"__prev_{r.column}")
    dseq = (F.col(s.seq_col) - F.col("__prev_seq_roc")).cast("double")
    vdiff = F.col(r.column).cast("double") - prev_v.cast("double")
    # guard dseq>0: duplicate seqs would divide by zero (ANSI) —
    # ≙ the reference's same-timestamp 0/0→NaN quirk (SURVEY F12),
    # which it silently drops; we drop explicitly.
    slope = F.when(dseq > 0, vdiff / dseq)
    cond = F.abs(slope) > F.lit(r.max_slope)
    note = F.concat(
        F.lit("slope:"), _fmt(slope),
        F.lit(f"| max_slope:{r.max_slope:g}"),
        F.lit("| value_diff: "), _fmt(vdiff),
    )  # ≙ copy_rate_of_change.pipe:56
    return r.detector, cond, _fmt(slope), note


def _gap(r: GapRule, s: _Scope):
    # the row-level half of GapRule; its staleness half is a projection
    # of the partition-stats rows (compile_rules)
    gap = F.col(s.seq_col) - F.col("__prev_seq_gap")
    cond = gap > F.lit(r.max_gap)
    note = F.concat(
        F.lit("gap: previous seq "),
        F.col("__prev_seq_gap").cast("string"),
        F.lit(" -> "),
        F.col(s.seq_col).cast("string"),
        F.lit(f" exceeds max_gap:{r.max_gap}"),
    )
    return r.detector + "-gap", cond, gap.cast("string"), note


def _monotonic(r: MonotonicRule, s: _Scope):
    prev = F.col(f"__prev_mono_{r.column}")
    cur = F.col(r.column)
    # NULL prev (first row) / NULL value → cond NULL → dropped
    if r.direction == "increasing":
        cond = (cur <= prev) if r.strict else (cur < prev)
    else:
        cond = (cur >= prev) if r.strict else (cur > prev)
    expect = ("strictly " if r.strict else "") + r.direction
    note = F.concat(
        F.lit("prev:"), prev.cast("string"),
        F.lit(" -> value:"), cur.cast("string"),
        F.lit(f" violates {expect} {r.column}"),
    )
    return r.detector, cond, cur.cast("string"), note


def _z_score(r: ZScoreRule, s: _Scope):
    tag = f"{r.column}_w{r.window}"
    z, avg, std = _moments_z(
        F.col(f"__zs1_{tag}"), F.col(f"__zs2_{tag}"), F.col(f"__zcnt_{tag}"),
        F.col(r.column), r.min_periods,
    )
    cond = F.abs(z) > F.lit(r.threshold)
    # label ≙ multiIf(z<-t,'low', z>t,'high', 'ok') — z_score.pipe:48
    label = F.when(z < -r.threshold, "low").when(z > r.threshold, "high").otherwise("ok")
    # note ≙ concat('z-score: ', substring(toString(zscore),1,6),
    #   ' | ', test, ' | average: ', ..., ' | std_dev: ', ...)
    #   — copy_z_score.pipe:53
    note = F.concat(
        F.lit("z-score: "), F.substring(z.cast("string"), 1, 6),
        F.lit(" | "), label,
        F.lit(" | average: "), _fmt(avg),
        F.lit(" | std_dev: "), _fmt(std),
    )
    return r.detector, cond, _fmt(z, 4), note


def _iqr(r: IqrRule, s: _Scope):
    tag = s.tags[_stat_key(r)]
    q1c, q3c = F.col(f"__q1_{tag}"), F.col(f"__q3_{tag}")
    iqr = (q3c - q1c) * F.lit(r.multiplier)  # ≙ iqr.pipe:34
    lo, hi = q1c - iqr, q3c + iqr
    cond = (F.col(r.column) > hi) | (F.col(r.column) < lo)  # ≙ iqr.pipe:52-53
    note = F.concat(
        F.lit("lower_bound:"), _fmt(lo),
        F.lit("| upper_bound:"), _fmt(hi),
    )  # ≙ copy_iqr.pipe:80
    return r.detector, cond, F.col(r.column), note


def _seasonal(r: SeasonalRule, s: _Scope):
    tag = f"{r.column}_{r.period}"
    z, avg, std = _moments_z(
        F.col(f"__ss1_{tag}"), F.col(f"__ss2_{tag}"), F.col(f"__scnt_{tag}"),
        F.col(r.column).cast("double"), r.min_count,
    )
    cond = F.abs(z) > F.lit(r.threshold)
    note = F.concat(
        F.lit("seasonal z: "), F.substring(z.cast("string"), 1, 6),
        F.lit(" | phase: "), F.col(f"__sphase_{tag}").cast("string"),
        F.lit(f"/{r.period}"),
        F.lit(" | average: "), _fmt(avg),
        F.lit(" | std_dev: "), _fmt(std),
    )
    return r.detector, cond, _fmt(z, 4), note


def _mad(r: MadRule, s: _Scope):
    tag = s.tags[_stat_key(r)]
    medc, madc = F.col(f"__med_{tag}"), F.col(f"__mad_{tag}")
    # MAD == 0 → score undefined → never flagged (also the ANSI
    # division guard); NULL values propagate to NULL cond → dropped
    z = F.when(
        madc > 0,
        F.lit(0.6745) * (F.col(r.column).cast("double") - medc) / madc,
    )
    cond = F.abs(z) > F.lit(r.threshold)
    note = F.concat(
        F.lit("median:"), _fmt(medc),
        F.lit("| mad:"), _fmt(madc),
        F.lit(f"| threshold:{r.threshold:g}"),
    )
    return r.detector, cond, _fmt(z, 4), note


def _predicate(r: PredicateRule, s: _Scope):
    ok = F.expr(r.expr)
    # IS NOT TRUE: a NULL (unknown) predicate does not satisfy
    cond = ~F.coalesce(ok, F.lit(False))
    observed = F.when(ok.isNull(), "null").otherwise("false")
    return r.detector, cond, observed, F.lit(f"must satisfy: {r.expr}")


def _cusum(r: CusumRule, s: _Scope):
    i = s.pos[id(r)]
    su = F.col(f"__cusum_su_{i}").cast("double")
    breach = su > F.lit(r.h)
    observed = F.concat(F.lit("cusum_hi:"), _fmt(su))
    if r.two_sided:
        sd = F.col(f"__cusum_sd_{i}").cast("double")
        breach = breach | (sd > F.lit(r.h))
        observed = F.concat(
            F.lit("cusum_hi:"), _fmt(su), F.lit("| cusum_lo:"), _fmt(sd)
        )
    # NULL x rows carry S across but are never themselves flagged
    cond = F.col(r.column).isNotNull() & breach
    note = F.lit(f"target:{r.target:g}| k:{r.k:g}| h:{r.h:g}")
    return r.detector, cond, observed, note


def _ewma(r: EwmaRule, s: _Scope):
    z = F.col(f"__ewma_{s.pos[id(r)]}")
    limit = r.limit()
    lo, hi = r.target - limit, r.target + limit
    # NULL x rows contribute `target` to later rows' z but are
    # never themselves flagged (same contract as CUSUM)
    cond = F.col(r.column).isNotNull() & ((z < F.lit(lo)) | (z > F.lit(hi)))
    note = F.concat(
        F.lit("ewma:"),
        _fmt(z, 4),
        F.lit(f"| target:{r.target:g}| limit:{limit:.4f}| lam:{r.lam:g}"),
    )
    return r.detector, cond, _fmt(z, 4), note


def _ref_match(r: RefMatchRule, s: _Scope):
    refc = F.col(f"__ref_{r.ref_column}")
    # manifest-absent keys skipped (RefIntegrityRule owns orphans);
    # NULL-safe comparison so NULL vs value flags, NULL==NULL not
    cond = F.col("__ref_key").isNotNull() & ~F.col(r.column).eqNullSafe(refc)
    observed = F.coalesce(F.col(r.column).cast("string"), F.lit("NULL"))
    note = F.concat(
        F.lit(f"{r.column} expected:"),
        F.coalesce(refc.cast("string"), F.lit("NULL")),
        F.lit(f"| source:{r.ref_table}.{r.ref_column}"),
    )
    return r.detector, cond, observed, note


def _transcript_distance(r: TranscriptDistanceRule, s: _Scope):
    # levenshtein is a codegen'd Catalyst expression — the tolerance
    # check stays JVM-side and row-local on the same manifest join as
    # the exact rule
    expected = F.col(f"__ref_{r.ref_column}")
    dist = F.levenshtein(F.col(r.column), expected)
    cond = expected.isNotNull() & (
        F.col(r.column).isNull() | (dist > F.lit(r.max_distance))
    )
    note = F.concat(
        F.lit("edit_distance:"),
        F.coalesce(dist.cast("string"), F.lit("null")),
        F.lit(f"| max_distance:{r.max_distance}"),
        F.lit("| expected transcript: "),
        expected,
    )
    return r.detector, cond, F.col(r.column), note


def _transcript(r: TranscriptRule, s: _Scope):
    expected = F.col(f"__ref_{r.ref_column}")
    cond = expected.isNotNull() & (
        F.col(r.column).isNull() | (F.col(r.column) != expected)
    )
    note = F.concat(F.lit("expected transcript: "), expected)
    return r.detector, cond, F.col(r.column), note


def _ref_integrity(r: RefIntegrityRule, s: _Scope):
    # manifest joined in compile_rules; missing key ⇒ orphan row
    note = F.lit(f"{r.column} not present in {r.ref_table}")
    return r.detector, F.col("__ref_key").isNull(), F.col(r.column), note


def _audio_decode(r: AudioDecodeRule, s: _Scope):
    snr_s = F.coalesce(_fmt(F.col("__audio_snr_db")), F.lit("nan"))
    note = F.concat(
        F.lit("snr_db:"), snr_s,
        F.lit(f"| min_snr_db:{r.min_snr_db:g}"),
        F.lit("| decode_error:"), F.coalesce(F.col("__audio_err"), F.lit("")),
    )
    return r.detector, ~F.col("__audio_ok"), snr_s, note


def _image_decode(r: ImageDecodeRule, s: _Scope):
    return r.detector, *_decode_check(
        "__img_ok", "__img_err", "decode_error",
        [("__img_w", r.width_column, ""), ("__img_h", r.height_column, "x")],
    )


def _video_decode(r: VideoDecodeRule, s: _Scope):
    return r.detector, *_decode_check(
        "__vid_ok", "__vid_err", "demux_error",
        [
            ("__vid_w", r.width_column, ""),
            ("__vid_h", r.height_column, "x"),
            ("__vid_frames", r.frames_column, "@"),
        ],
    )


def _audio_qc(r: AudioQcRule, s: _Scope):
    cr = F.col("__audio_clip_ratio")
    sil = F.col("__audio_silence_ratio")
    rms = F.col("__audio_rms")
    # decode failures: all metrics NULL → cond NULL → never flagged
    cond, bits = _fence(
        [
            (cr, operator.gt, r.max_clip_ratio, "max_clip_ratio"),
            (sil, operator.gt, r.max_silence_ratio, "max_silence_ratio"),
            (rms, operator.lt, r.min_rms, "min_rms"),
            (rms, operator.gt, r.max_rms, "max_rms"),
        ],
        cast=float,
    )
    observed = F.concat(
        F.lit("clip_ratio:"), _fmt(cr, 4),
        F.lit("| silence_ratio:"), _fmt(sil, 4),
        F.lit("| rms:"), _fmt(rms, 4),
    )
    return r.detector, cond, observed, F.lit("| ".join(bits))


_ROW_LOWERINGS = {
    RangeRule: _range,
    CalibratedRangeRule: _calibrated_range,
    NotNullRule: _not_null,
    ValueSetRule: _value_set,
    PatternRule: _pattern,
    PayloadSizeRule: _payload_size,
    SpeechRateRule: _speech_rate,
    RateOfChangeRule: _rate_of_change,
    GapRule: _gap,
    MonotonicRule: _monotonic,
    ZScoreRule: _z_score,
    IqrRule: _iqr,
    SeasonalRule: _seasonal,
    MadRule: _mad,
    PredicateRule: _predicate,
    CusumRule: _cusum,
    EwmaRule: _ewma,
    RefMatchRule: _ref_match,
    TranscriptDistanceRule: _transcript_distance,
    TranscriptRule: _transcript,
    RefIntegrityRule: _ref_integrity,
    AudioDecodeRule: _audio_decode,
    ImageDecodeRule: _image_decode,
    VideoDecodeRule: _video_decode,
    AudioQcRule: _audio_qc,
}


def _z_score_window(r: ZScoreRule, w, seq_col: str) -> list:
    # Sliding count window per north star (SURVEY.md §2.5 W1
    # generalization): trailing `window` rows, excluding self.
    # avg/stddevPop come from EXPLICIT sum/sum-of-squares — not
    # F.avg/F.stddev_pop — so that for integer (or decimal-quantized)
    # columns the frame sums are exact and the derived moments are a
    # fixed IEEE op sequence any engine (the DuckDB oracle) reproduces
    # bit-for-bit. Welford-style streaming moments give last-ulp results
    # that differ per engine and flip rounded note digits. The names
    # carry the window size: two ZScoreRules on the same column with
    # DIFFERENT windows need distinct frames.
    wf = w.rowsBetween(-r.window, -1)
    x = F.col(r.column).cast("double")
    tag = f"{r.column}_w{r.window}"
    return [
        (f"__zs1_{tag}", F.sum(x).over(wf)),
        (f"__zs2_{tag}", F.sum(x * x).over(wf)),
        (f"__zcnt_{tag}", F.count(r.column).over(wf)),
    ]


# the (name, column) inputs each sequence-window rule class reads off the
# one (partition, seq) Window pass
_WINDOW_INPUTS = {
    # ≙ lagInFrame(value/timestamp, 1) OVER (PARTITION BY id
    #   ORDER BY timestamp) — tinybird/pipes/rate_of_change.pipe:31-34
    RateOfChangeRule: lambda r, w, seq: [
        (f"__prev_{r.column}", F.lag(r.column, 1).over(w)),
        ("__prev_seq_roc", F.lag(seq, 1).over(w)),
    ],
    GapRule: lambda r, w, seq: [("__prev_seq_gap", F.lag(seq, 1).over(w))],
    ZScoreRule: _z_score_window,
    MonotonicRule: lambda r, w, seq: [
        (f"__prev_mono_{r.column}", F.lag(r.column, 1).over(w))
    ],
}

# classes lowered by the table-level passes of compile_rules only
_TABLE_LEVEL = {
    UniqueRule, FdRule, AggregateRule, CompletenessRule, DriftRule,
    CategoricalDriftRule, EntropyRule, BenfordRule, ReconciliationRule,
    VolumeRule, ProfileSpec,
}

_SEQUENTIAL = (CalibratedRangeRule, *_WINDOW_INPUTS, CusumRule, EwmaRule, SeasonalRule)

_BENFORD = [math.log10(1.0 + 1.0 / d) for d in range(1, 10)]


def compile_rules(
    df: DataFrame,
    rules: list,
    *,
    key_col: str = "clip_id",
    partition_col: str = "partition_key",
    seq_col: str | None = None,
    frontier: int | None = None,
    refs: dict[str, DataFrame] | None = None,
    window_chunk_size: int | None = None,
    exclusion_windows: DataFrame | None = None,
) -> CompiledPlan:
    """Compile ``rules`` over ``df`` into a single fused plan.

    Eager: compiling runs the partition-stats action (see
    :func:`_partition_stats`); the returned violations stay lazy.

    ``df`` must already expose ``partition_col`` (the verdict axis) and,
    for sequence rules, ``seq_col`` (monotone within a partition — for the
    clip table this is the sequence embedded in clip_id, SURVEY.md §7.3).
    ``frontier`` freezes "now" for staleness checks — the determinism
    contract replacing the reference's wall-clock NOW()
    (SURVEY.md §4.3; ≙ copy pipes snapshotting a 61 s window per run).
    ``refs`` maps logical ref-table names (RefIntegrityRule.ref_table,
    TranscriptRule.ref_table) to DataFrames.

    ``exclusion_windows`` — declared maintenance windows
    (partition_key, start_seq, end_seq), half-open on the sequence
    axis: ROW-LEVEL violations raised inside a window are suppressed
    (see :func:`_exemption_filter`). Aggregate-/partition-level
    detectors (unique, drift, aggregate fences, completeness, timeout)
    keep their exact semantics — a row range does not excuse a
    table-shape defect.

    Rules are grouped by exact class (see the module docstring); a class
    with no lowering raises ``TypeError``.
    """
    refs = refs or {}
    for r in rules:
        if type(r) not in _ROW_LOWERINGS and type(r) not in _TABLE_LEVEL:
            raise TypeError(f"unknown rule type: {type(r).__name__}")

    def of(*classes) -> list:
        """The rules of exactly these classes, in rule order."""
        return [r for r in rules if type(r) in classes]

    if seq_col is None and (of(*_SEQUENTIAL) or exclusion_windows is not None):
        raise ValueError("sequence rules and exclusion_windows need seq_col")
    profiles = of(ProfileSpec)
    if len(profiles) > 1:
        raise ValueError(f"at most one ProfileSpec per ruleset, got {len(profiles)}")
    for p in profiles:
        cols = {*p.numeric_columns, *p.distinct_columns}
        missing = cols.union(h[0] for h in p.histogram_columns) - set(df.columns)
        if missing:
            raise ValueError(f"ProfileSpec: columns {sorted(missing)} not in the table")
    pos: dict[int, int] = {}
    for cls in {type(r) for r in rules}:
        for i, r in enumerate(of(cls)):
            pos.setdefault(id(r), i)
    # IQR/MAD stats are keyed, not per rule: a warn and a fail tier on one
    # column share one set; a column's first key keeps the bare name
    tags: dict[tuple, str] = {}
    for r in of(IqrRule, MadRule):
        n = sum(k[:2] == _stat_key(r)[:2] for k in tags)
        tags.setdefault(_stat_key(r), f"{r.column}_k{n}" if n else r.column)
    scope = _Scope(seq_col, pos, tags)
    base = df

    # ---- the payload pass FIRST: it consumes and DROPS the payload
    # column, so everything downstream — manifest join, window shuffle,
    # aggregates — flows narrow rows only. Payload octet lengths are
    # captured before it (PayloadSizeRule + an audio rule in one ruleset
    # is the normal full-surface deployment: the size gate is the cheap
    # filter in FRONT of the decode)
    for bc in sorted({r.bytes_column for r in of(PayloadSizeRule)}):
        base = base.withColumn(f"__octets_{bc}", F.length(F.col(bc)).cast("long"))

    audio_rules, qc_rules = of(AudioDecodeRule), of(AudioQcRule)
    if audio_rules or qc_rules:
        from ..functions.audio import with_audio_checks

        if audio_rules:
            (rule,) = audio_rules  # one audio rule per run
        else:
            # QC-only run: synthesize a column-spec carrier for the pass;
            # compute_snr=False below skips the golden-signal + SNR work
            # whose outputs nothing would consume
            (q0,) = qc_rules[:1]
            rule = AudioDecodeRule(
                bytes_column=q0.bytes_column, codec_column=q0.codec_column,
                sr_column=q0.sr_column, dur_column=q0.dur_column,
            )
        base = with_audio_checks(
            base, rule, key_col=key_col,
            qc=bool(qc_rules), compute_snr=bool(audio_rules),
        )

    # image decode / video demux: the same fused shape, ONE zero-copy
    # Arrow pass appends the check columns and drops the payload
    if of(ImageDecodeRule):
        from ..functions.multimodal import with_image_checks

        (img_rule,) = of(ImageDecodeRule)  # one image rule per run
        base = with_image_checks(base, img_rule, key_col=key_col)
    if of(VideoDecodeRule):
        from ..functions.multimodal import with_video_checks

        (vid_rule,) = of(VideoDecodeRule)  # one video rule per run
        base = with_video_checks(base, vid_rule, key_col=key_col)

    # ---- one manifest join serves referential/transcript/match rules ----
    ref_rules = of(
        RefIntegrityRule, TranscriptRule, TranscriptDistanceRule, RefMatchRule
    )
    if ref_rules:
        names = {r.ref_table for r in ref_rules}
        if len(names) > 1:
            raise ValueError(f"multiple ref tables in one run not supported: {names}")
        manifest = _ref_table(refs, names.pop(), ref_rules[0])
        # dedup while preserving order: the exact and distance transcript
        # rules share ref_column, and a duplicate __ref_ alias would be
        # ambiguous downstream
        wanted = dict.fromkeys(
            r.ref_column for r in ref_rules if type(r) is not RefIntegrityRule
        )
        sel = manifest.select(
            F.col(key_col).alias("__ref_key"),
            *[F.col(c).alias(f"__ref_{c}") for c in wanted if c != key_col],
        )
        # Equi-join on the key. At 10^12 scale this is the one big join;
        # with both sides Iceberg-bucketed by clip_id it becomes a
        # storage-partitioned join (no shuffle). Locally a plain SMJ/AQE
        # choice is fine, so no broadcast hint here on purpose.
        base = base.join(sel, base[key_col] == sel["__ref_key"], "left")

    # ---- calibration revisions: one sorted array per partition, broadcast
    # 1:1 onto the fact row; the as-of pick is a row-local HOF in the
    # fused projection below. Same at-scale shape as _exemption_filter:
    # the revision set is operator-declared (≪ data), so the fact table
    # never shuffles and never fans out for the rule.
    for i, r in enumerate(of(CalibratedRangeRule)):
        revs = _ref_table(refs, r.revisions_table, r)
        wanted = ("partition_key", r.eff_seq_column, r.lo_column, r.hi_column)
        missing = [c for c in wanted if c not in revs.columns]
        if missing:
            raise ValueError(
                f"CalibratedRangeRule: revisions table "
                f"{r.revisions_table!r} missing columns {missing}"
            )
        # sort_array on (s, lo, hi) structs orders by s first — the
        # element_at(filter(...), -1) pick then reads the LATEST revision
        # with eff_seq <= row seq
        arr = revs.groupBy(F.col("partition_key").alias(partition_col)).agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col(r.eff_seq_column).cast("long").alias("s"),
                        F.col(r.lo_column).cast("double").alias("lo"),
                        F.col(r.hi_column).cast("double").alias("hi"),
                    )
                )
            ).alias(f"__cal_{i}")
        )
        base = base.join(F.broadcast(arr), partition_col, "left")

    def windowed(frame: DataFrame, cols_builder, frame_rows: int, *order):
        """``frame`` plus ``cols_builder(window)``'s columns over
        (partition ORDER BY ``order``). With ``window_chunk_size``, one
        task per (partition, seq-chunk) instead of one per partition
        (operators/skew.chunked_window_cols): at 10^12 rows a hot
        partition would otherwise be one straggler AQE cannot split."""
        if window_chunk_size is None:
            w = Window.partitionBy(partition_col).orderBy(*order)
            return frame.select("*", *cols_builder(w))
        from .skew import chunked_window_cols

        return chunked_window_cols(
            frame,
            partition_col=partition_col,
            seq_col=seq_col,
            frame_rows=frame_rows,
            chunk_size=window_chunk_size,
            cols_builder=cols_builder,
        )

    # ---- shared window columns: every sequence rule reads the same
    # (partition, seq) WindowSpec, so Spark evaluates them in one Window
    # exec → one shuffle
    window_rules = of(*_WINDOW_INPUTS)
    if window_rules:

        def window_cols(w) -> list[Column]:
            # keyed by name, first-wins: two rules of the same family on
            # the same column (e.g. strict + non-strict MonotonicRule, or
            # several RateOfChange/Gap rules) request the IDENTICAL lag
            # expression — emitting it twice would duplicate the column
            # name and make the later F.col() read ambiguous
            cols: dict[str, Column] = {}
            for r in window_rules:
                for name, col in _WINDOW_INPUTS[type(r)](r, w, seq_col):
                    cols.setdefault(name, col.alias(name))
            return list(cols.values())

        frame_rows = max([1] + [r.window for r in of(ZScoreRule)])
        base = windowed(base, window_cols, frame_rows, seq_col)

    # ---- CUSUM change-point columns ---------------------------------------
    # Page's recursion S_t = max(0, S_{t-1} + y_t) via its closed form
    # S_t = P_t - min(0, min_{j<=t} P_j): a running DECIMAL sum, then a
    # running min of it — two Window expression layers over the SAME
    # (partition, seq) exchange the other sequence rules use (a second
    # sort, zero extra shuffles). Decimal sums are exact ⇒ associative ⇒
    # the verdict set is engine- and order-independent. Ties on seq are
    # broken by key_col so the prefix order is total (planted duplicate
    # rows must not make two engines walk the sequence differently).
    ys: dict[str, Column] = {}  # "{u|d}_{i}" → y_t of rule i's side
    for i, r in enumerate(of(CusumRule)):
        x = F.col(r.column).cast("decimal(28,6)")
        t = F.lit(r.target).cast("decimal(28,6)")
        kk = F.lit(r.k).cast("decimal(28,6)")
        ys[f"u_{i}"] = x - t - kk
        if r.two_sided:
            ys[f"d_{i}"] = t - x - kk
    if ys and window_chunk_size is not None:
        # skew-safe path: the two-level prefix decomposition — a
        # 10^12-row partition runs as rows/chunk_size parallel tasks
        # instead of one straggler (exact at ANY chunk size; see
        # operators/skew.chunked_cusum_cols)
        from .skew import chunked_cusum_cols

        base = chunked_cusum_cols(
            base,
            partition_col=partition_col,
            seq_col=seq_col,
            key_col=key_col,
            y_cols={f"cusum_s{n}": y for n, y in ys.items()},
            chunk_size=window_chunk_size,
        )
    elif ys:
        wc = (
            Window.partitionBy(partition_col)
            .orderBy(seq_col, key_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        base = base.select(
            "*", *[F.sum(y).over(wc).alias(f"__cusum_p{n}") for n, y in ys.items()]
        )
        zero = F.lit(0).cast("decimal(38,6)")
        mcols: list[Column] = []
        for n in ys:
            p = F.col(f"__cusum_p{n}").cast("decimal(38,6)")
            mcols.append((p - F.least(zero, F.min(p).over(wc))).alias(f"__cusum_s{n}"))
        base = base.select("*", *mcols)

    # ---- EWMA control-chart columns ---------------------------------------
    # z_t = lam*x_t + (1-lam)*z_{t-1} via the truncated closed form
    # z_t ≈ Σ_{k<K} lam(1-lam)^k x_{t-k} + (1-lam)^K target: K lag terms
    # over ONE (partition, seq, key) window, summed in a fixed
    # left-to-right literal order so the DuckDB oracle reproduces every
    # IEEE double bit-for-bit (see rules.EwmaRule). Pre-head lags and
    # NULL values contribute `target` (the chart's z_{-1} convention).
    # The truncated form only looks `truncate` rows back, so the chunked
    # path reproduces it exactly.
    ewma_rules = of(EwmaRule)
    if ewma_rules:

        def ewma_cols(w) -> list[Column]:
            cols: list[Column] = []
            for i, r in enumerate(ewma_rules):
                x = F.col(r.column).cast("double")
                tgt = F.lit(float(r.target))
                coeffs, tail = r.weights()
                z = F.lit(coeffs[0]) * F.coalesce(x, tgt)
                for k in range(1, r.truncate):
                    z = z + F.lit(coeffs[k]) * F.coalesce(F.lag(x, k).over(w), tgt)
                cols.append((z + F.lit(tail)).alias(f"__ewma_{i}"))
            return cols

        frame_rows = max(r.truncate for r in ewma_rules)
        base = windowed(base, ewma_cols, frame_rows, seq_col, key_col)

    # ---- the partition-stats pass: ONE grouped action over the pre-payload
    # frame serves rows_checked, every per-partition aggregate a rule
    # fences or joins back and the profile state (see _partition_stats) ---
    quartiles = {tags[_stat_key(r)]: r for r in of(IqrRule)}
    medians = {tags[_stat_key(r)]: r for r in of(MadRule)}
    stats_aggs = [
        _quantile(r, F.col(r.column), q).alias(f"__q{k}_{tag}")
        for tag, r in quartiles.items()
        for k, q in ((1, 0.25), (3, 0.75))
    ]
    if frontier is not None and of(GapRule):
        # latest seq and the key at it, for staleness
        stats_aggs += [
            F.max(seq_col).alias("__last_seq"),
            F.max_by(F.col(key_col), F.col(seq_col)).alias("__last_key"),
        ]
    stats_aggs += [
        _quantile(r, F.col(r.column).cast("double"), 0.5).alias(f"__med_{tag}")
        for tag, r in medians.items()
    ]
    stats_aggs += [
        _agg_value(r).alias(f"__agg_{i}") for i, r in enumerate(of(AggregateRule))
    ]
    for i, r in enumerate(of(BenfordRule)):
        stats_aggs += _benford_counts(r.column, f"__ben{i}")
    stats_aggs += [
        _recon_total(r, r.column).alias(f"__rec_{i}")
        for i, r in enumerate(of(ReconciliationRule))
    ]
    if profiles:
        from ..functions.stats import profile_aggs

        stats_aggs += profile_aggs(profiles[0])
    part_stats, drift, counts = _partition_stats(
        df, stats_aggs, of(DriftRule), partition_col=partition_col
    )
    profile = None
    if profiles:  # the state rows: every other stats column is "__"-named
        profile = part_stats.select(
            F.col(partition_col).alias("partition_key"),
            F.col("__rows").alias("rows"),
            *[c for c in part_stats.columns[1:] if not c.startswith("__")],
        )

    # ---- per-partition IQR fences and medians: a broadcast join of the
    # stats rows ----------------------------------------------------------
    if quartiles or medians:
        # ≤1 row per partition → always broadcast (≙ the reference's
        # stats-CTE join, iqr.pipe:49-50, which ClickHouse keeps in memory).
        fences = part_stats.select(
            partition_col,
            *[f"__q{k}_{tag}" for tag in quartiles for k in (1, 3)],
            *[f"__med_{tag}" for tag in medians],
        )
        base = base.join(F.broadcast(fences), partition_col, "left")

    # ---- per-partition MAD: median |x - median| off the stats medians ----
    if medians:
        # MAD is doubly holistic: the medians come from the stats pass,
        # the median deviations need the rows again — ONE aggregate for
        # every MAD key, reading slim columns off the pre-audio frame
        # (column pruning keeps payloads out), ~1 row per partition. Grouped
        # by every fences column, it leaves AQE one fences broadcast to reuse.
        dev = {
            t: F.abs(F.col(r.column).cast("double") - F.col(f"__med_{t}"))
            for t, r in medians.items()
        }
        mads = (
            df.join(F.broadcast(fences), partition_col)
            .groupBy(*fences.columns)
            .agg(
                *[_quantile(r, dev[t], 0.5).alias(f"__mad_{t}") for t, r in medians.items()]
            )
            .select(partition_col, *[f"__mad_{t}" for t in medians])
        )
        base = base.join(F.broadcast(mads), partition_col, "left")

    # ---- per-(partition, phase) seasonal baselines: one agg + broadcast ---
    for r in of(SeasonalRule):
        tag = f"{r.column}_{r.period}"
        ph = F.pmod(F.col(seq_col), F.lit(r.period)).cast("long")
        d = F.col(r.column).cast("decimal(28,6)")
        # exact decimal moments per (partition, phase) — the same
        # determinism contract as AggregateRule avg/stddev: the derived
        # double is one fixed IEEE op sequence any engine reproduces.
        # ≤ partitions × period rows → always broadcast; reads ONE slim
        # column off the pre-audio frame.
        stats = df.groupBy(F.col(partition_col), ph.alias(f"__sphase_{tag}")).agg(
            F.sum(d).cast("double").alias(f"__ss1_{tag}"),
            F.sum(d * d).cast("double").alias(f"__ss2_{tag}"),
            F.count(F.col(r.column)).alias(f"__scnt_{tag}"),
        )
        if f"__sphase_{tag}" not in base.columns:
            base = base.withColumn(f"__sphase_{tag}", ph).join(
                F.broadcast(stats), [partition_col, f"__sphase_{tag}"], "left"
            )

    # ---- fused violation projection: each row-local/window rule
    # contributes one WHEN(cond, struct(...)) element --------------------
    parts: list[DataFrame] = []
    detectors: list[str] = []
    partition_level: list[str] = []
    flags: list[Column] = []
    for r in rules:
        if type(r) in _ROW_LOWERINGS:
            detector, cond, observed, note = _ROW_LOWERINGS[type(r)](r, scope)
            detectors.append(detector)
            flags.append(_flag(detector, cond, observed, note))
    if flags:
        proj = base
        if exclusion_windows is not None:
            # row-level detectors only: exempt rows keep feeding window
            # stats / fences / rows_checked above, but emit no violations
            proj = _exemption_filter(
                proj, exclusion_windows, partition_col=partition_col, seq_col=seq_col
            )
        parts.append(_exploded(proj, F.col(partition_col), F.col(key_col), flags))

    def book(detector: str, per_partition: bool = True) -> None:
        detectors.append(detector)
        if per_partition:
            # O(1) violations per partition regardless of its size: a rate
            # tolerance would silently disable the detector at production
            # row counts, so its verdict stays exact
            partition_level.append(detector)

    def emit(
        frame: DataFrame,
        detector: str,
        observed: Column,
        note: str,
        *,
        clip_id: Column | None = None,
        partition: str | None = None,
        per_partition: bool = True,
    ) -> None:
        """One table-level violation part: ``frame``'s rows as
        VIOLATION_COLUMNS (``partition`` names its partition column when
        it is not ``partition_key``; no ``clip_id`` means a
        partition-grain row)."""
        parts.append(
            frame.select(
                F.col(partition).alias("partition_key") if partition else "partition_key",
                (F.lit(None) if clip_id is None else clip_id)
                .cast("string").alias("clip_id"),
                F.lit(detector).alias("detector"),
                observed.cast("string").alias("observed"),
                F.lit(note).alias("note"),
            )
        )
        book(detector, per_partition)

    # ---- staleness (timeout proper): latest seq per partition vs frontier
    for r in of(GapRule) if frontier is not None else ():
        # ≙ timeout.pipe:15-37 — latest report per key, flagged if older
        # than the allowed staleness vs the (frozen) frontier. max_by keeps
        # the full latest row like the reference's LIMIT 1 BY id (W3→A6).
        emit(
            part_stats.filter(
                F.col("__last_seq") < F.lit(frontier - r.max_staleness)
            ),
            r.detector,
            F.col("__last_seq"),
            # ≙ 'timestamp is time of last report' — copy_timeout.pipe:39
            "seq is last reported seq",
            clip_id=F.col("__last_key"),
            partition=partition_col,
        )

    # ---- unique ----------------------------------------------------------
    for r in of(UniqueRule):
        # per-(partition, key) counts first in BOTH scopes: the heavy
        # aggregation is partition-co-located (map-side combinable on
        # the table's physical layout); global scope then rolls the
        # slim key-grain frame (≤ 1 row per key-partition) up over a
        # key-partitioned window — the corpus itself never shuffles
        # on the bare key.
        per = df.groupBy(partition_col, *r.columns).agg(
            F.count(F.lit(1)).alias("__n")
        )
        note = "duplicate key (" + ",".join(r.columns) + ")"
        if r.scope == "global":
            w = Window.partitionBy(*[F.col(c) for c in r.columns])
            dup_src = per.withColumn("__total", F.sum("__n").over(w))
            dup_src = dup_src.filter(F.col("__total") > 1)
            observed = F.col("__total")
            note += " global scope"
        else:
            dup_src = per.filter(F.col("__n") > 1)
            observed = F.col("__n")
        emit(
            dup_src, r.detector, observed, note,
            clip_id=F.col(r.columns[0]), partition=partition_col,
            per_partition=False,
        )

    # ---- functional dependencies ------------------------------------------
    for r in of(FdRule):
        dets = list(r.determinants)
        # NULL determinants / dependents are skipped: NotNullRule owns
        # null policy, and COUNT(DISTINCT) semantics ignore NULLs —
        # the FD asserts agreement among PRESENT values.
        grain = df
        for c in (*dets, r.dependent):
            grain = grain.filter(F.col(c).isNotNull())
        # corpus → slim (partition, determinant, dependent) grain:
        # partition-co-located, map-side combinable. Global scope then
        # rolls THIS frame up by determinant — the corpus itself never
        # shuffles on the bare determinant (the UniqueRule contract).
        per = grain.groupBy(partition_col, *dets, r.dependent).agg(
            F.count(F.lit(1)).alias("__n")
        )
        if r.scope == "global":
            bad = (
                per.select(*dets, r.dependent)
                .distinct()
                .groupBy(*dets)
                .agg(F.count(F.lit(1)).alias("__ndep"))
                .filter(F.col("__ndep") > 1)
            )
            # every partition holding a violating determinant value
            # gets the row (either owner's verdict fails)
            src = (
                per.join(bad, dets, "inner")
                .select(partition_col, *dets, "__ndep")
                .distinct()
            )
        else:
            src = per.groupBy(partition_col, *dets).agg(
                F.count(F.lit(1)).alias("__ndep")
            ).filter(F.col("__ndep") > 1)
        # a broken dependency is one defect per partition regardless of
        # row count
        emit(
            src, r.detector, F.col("__ndep"),
            f"fd ({','.join(dets)}) -> {r.dependent} violated ({r.scope} scope)",
            clip_id=F.concat_ws("|", *[F.col(c).cast("string") for c in dets]),
            partition=partition_col,
        )

    # ---- aggregate bounds: every AggregateRule fences its stats column ---
    agg_rules = of(AggregateRule)
    if agg_rules:
        agg_flags: list[Column] = []
        for i, r in enumerate(agg_rules):
            v = F.col(f"__agg_{i}")
            cond, bits = _fence(
                [(v, operator.lt, r.min_value, "min"), (v, operator.gt, r.max_value, "max")],
                cast=float,
            )
            note = " ".join([f"agg:{r.agg}({r.column})", *bits])
            agg_flags.append(_flag(r.detector, cond, _fmt(v, 4), F.lit(note)))
            book(r.detector)
        # every rule's fence check reads the ONE stats row per partition
        parts.append(
            _exploded(
                part_stats, F.col(partition_col), F.lit(None).cast("string"), agg_flags
            )
        )

    # ---- completeness: manifest keys missing from the table --------------
    comp_ref_parts: list[DataFrame] = []
    for r in of(CompletenessRule):
        # missing keys land in the manifest's partition (the verdict axis)
        ref = _ref_table(refs, r.ref_table, r, partition_col)
        # left-anti from the manifest onto the table's keys: the inverse
        # direction of RefIntegrityRule. At 10^12 scale with both sides
        # bucketed by the key this is a storage-partitioned join; anti
        # joins never multiply rows, so no distinct on the probe side.
        missing = ref.select(
            F.col(partition_col).alias("partition_key"),
            F.col(r.ref_column).cast("string").alias("clip_id"),
        ).join(
            df.select(F.col(r.column).cast("string").alias("clip_id")),
            "clip_id",
            "left_anti",
        )
        emit(
            missing, r.detector, F.lit("missing"),
            f"{r.ref_column} present in {r.ref_table} but absent from table",
            clip_id=F.col("clip_id"), per_partition=False,
        )
        comp_ref_parts.append(
            ref.select(F.col(partition_col).alias("partition_key")).distinct()
        )

    # ---- drift (KS + PSI over binned histograms, scored on the driver) ----
    for r in of(DriftRule):
        # the rule thresholds and the formatted notes stay Spark
        # projections, because Spark's double→string cast (E-notation
        # below 1e-3) is the note contract the oracles check
        cond = (F.col("psi") > r.psi_threshold) | (F.col("ks") > r.ks_threshold)
        observed = F.concat(
            F.lit("psi:"), _fmt(F.col("psi"), 4),
            F.lit("|ks:"), _fmt(F.col("ks"), 4),
        )
        note = (
            f"column:{r.column} psi_threshold:{r.psi_threshold:g} "
            f"ks_threshold:{r.ks_threshold:g}"
        )
        if r.w1_threshold is not None:
            # opt-in third axis; strings extend ONLY when declared, so
            # existing rule sets (and their oracles) are byte-unchanged
            cond = cond | (F.col("w1") > r.w1_threshold)
            observed = F.concat(observed, F.lit("|w1:"), _fmt(F.col("w1"), 4))
            note += f" w1_threshold:{r.w1_threshold:g}"
        emit(drift[r.column, r.bins].filter(cond), r.detector, observed, note)

    # ---- categorical mix: PSI drift + entropy fences ----------------------
    # Both rule families read the SAME scores of one collected
    # (partition, value) count, scored on the driver
    # (functions/stats.categorical_scores), so a CategoricalDriftRule and
    # an EntropyRule on one column cost one groupBy, not two.
    by_col: dict[str, list] = {}
    for r in of(CategoricalDriftRule, EntropyRule):
        by_col.setdefault(r.column, []).append(r)
    for colname, rs in by_col.items():
        from ..functions.stats import categorical_scores

        smoothings = {r.smoothing for r in rs if type(r) is CategoricalDriftRule}
        if len(smoothings) > 1:
            raise ValueError(
                f"CategoricalDriftRule({colname}): conflicting smoothing "
                f"values {sorted(smoothings)} — one shared count frame "
                "per column means one smoothing per column"
            )
        scores = categorical_scores(
            df,
            colname,
            partition_col=partition_col,
            smoothing=smoothings.pop() if smoothings else 0.5,
        )
        for r in rs:
            if type(r) is CategoricalDriftRule:
                emit(
                    scores.filter(F.col("psi") > r.psi_threshold), r.detector,
                    F.concat(F.lit("psi:"), _fmt(F.col("psi"), 4)),
                    f"column:{colname} psi_threshold:{r.psi_threshold:g}",
                )
                continue
            ent = F.col("entropy")
            cond, bits = _fence(
                [
                    (ent, operator.lt, r.min_entropy, "min_entropy"),
                    (ent, operator.gt, r.max_entropy, "max_entropy"),
                ],
                cast=float,
            )
            emit(
                scores.filter(cond), r.detector,
                F.concat(F.lit("entropy:"), _fmt(ent, 4)),
                " ".join([f"column:{colname}", *bits]),
            )

    # ---- Benford first-digit conformity over the stats digit counts ------
    for i, r in enumerate(of(BenfordRule)):
        n = F.col(f"__ben{i}_n").cast("double")
        # fixed left-to-right term order: one IEEE op sequence both the
        # engine and the SQL oracle replay identically
        mad = reduce(
            operator.add,
            [
                F.abs(F.col(f"__ben{i}_{d}") / n - F.lit(_BENFORD[d - 1]))
                for d in range(1, 10)
            ],
        ) / F.lit(9.0)
        emit(
            part_stats.filter(F.col(f"__ben{i}_n") >= r.min_count)
            .withColumn("__mad", mad)
            .filter(F.col("__mad") > r.max_mad),
            r.detector,
            F.concat(F.lit("mad:"), _fmt(F.col("__mad"), 4)),
            f"column:{r.column} max_mad:{r.max_mad:g} min_count:{r.min_count}",
            partition=partition_col,
        )

    # ---- reconciliation control totals: the stats total vs the ref's -----
    for i, r in enumerate(of(ReconciliationRule)):
        ref = _ref_table(refs, r.ref_table, r, partition_col)
        rc = r.ref_column or r.column
        # full-outer semantics WITHOUT a join: ONE aggregate over the
        # stats rows (the table's totals) and the ref rows — a side absent
        # from a partition contributes its 0, exactly the
        # COALESCE(full_outer) contract, with zero join nodes (a
        # full-outer can't broadcast, so the join form would plan an SMJ)
        rows = part_stats.select(
            F.col(partition_col).alias("partition_key"),
            F.col(f"__rec_{i}").alias("actual"),
            F.lit(None).alias("__e"),
        ).unionByName(
            ref.select(
                F.col(partition_col).alias("partition_key"),
                F.lit(0.0).alias("actual"),
                F.col(rc).alias("__e"),
            )
        )
        totals = rows.groupBy("partition_key").agg(
            F.sum("actual").alias("actual"),
            F.coalesce(_recon_total(r, "__e"), F.lit(0.0)).alias("expected"),
        )
        tol = F.lit(float(r.abs_tolerance)) + F.lit(float(r.rel_tolerance)) * F.abs(
            F.col("expected")
        )
        emit(
            totals.filter(F.abs(F.col("actual") - F.col("expected")) > tol),
            r.detector,
            F.concat(
                F.lit(f"{r.agg}:"), _fmt(F.col("actual"), 2),
                F.lit("| expected:"), _fmt(F.col("expected"), 2),
            ),
            f"column:{r.column} ref:{r.ref_table}.{rc} "
            f"abs_tol:{r.abs_tolerance:g} rel_tol:{r.rel_tolerance:g}",
        )

    # the per-partition row counts of the stats pass serve both the
    # VolumeRule fences and the plan's rows_checked output
    counts_frame = part_stats.select(
        F.col(partition_col).alias("partition_key"),
        F.col("__rows").alias("rows_checked"),
    )

    # ---- volume fences over the shared per-partition count frame, around
    # the median count (taken on the driver from the collected counts) ---
    vol_rules = of(VolumeRule)
    if vol_rules:
        from ..functions.stats import _median

        med = F.lit(float(_median(counts)) if counts else None).cast("double")
        n = F.col("rows_checked")
        for r in vol_rules:
            f_ = F.lit(float(r.max_factor or 1))
            off = (n < med / f_) | (n > med * f_)
            cond, bits = _fence(
                [(n, operator.lt, r.min_rows, "min_rows"), (n, operator.gt, r.max_rows, "max_rows")],
                cast=int, spec="",
                extra=[(off, f"max_factor:{r.max_factor:g}")] if r.max_factor else (),
            )
            emit(
                counts_frame.filter(cond), r.detector,
                F.concat(F.lit("rows:"), n.cast("string")), " ".join(bits),
            )

    violations = reduce(DataFrame.unionByName, parts) if parts else None
    rows_checked = counts_frame
    if comp_ref_parts:
        # a partition whose EVERY row is missing never appears in the
        # table's groupBy — union the manifest's partitions in at
        # rows_checked=0 so a wholly-missing partition still gets (and
        # fails) its verdict instead of silently vanishing from the grid
        extra = reduce(DataFrame.unionByName, comp_ref_parts).withColumn(
            "rows_checked", F.lit(0).cast("long")
        )
        rows_checked = (
            rows_checked.unionByName(extra)
            .groupBy("partition_key")
            .agg(F.max("rows_checked").alias("rows_checked"))
        )
    return CompiledPlan(
        violations=violations,
        rows_checked=rows_checked,
        detectors=list(dict.fromkeys(detectors)),
        partition_level=list(dict.fromkeys(partition_level)),
        profile=profile,
    )


def _agg_value(r: AggregateRule) -> Column:
    """The aggregate a single AggregateRule fences, as a double column.

    avg/stddev_pop go through EXACT decimal sums first (the same
    determinism contract as profile_table: the test columns are
    ≤2-decimal quantized, so the frame sums are exact and the derived
    double is one fixed IEEE op sequence any engine reproduces —
    partial-aggregation order can't flip a rounded digit).
    """
    c = F.col(r.column)
    if r.agg in ("avg", "stddev_pop"):
        d = c.cast("decimal(28,6)")
        s1 = F.sum(d).cast("double")
        n = F.count(c)
        mean = s1 / n
        if r.agg == "avg":
            return mean
        s2 = F.sum(d * d).cast("double")
        return F.sqrt(F.greatest(s2 / n - mean * mean, F.lit(0.0)))
    if r.agg == "min":
        return F.min(c).cast("double")
    if r.agg == "max":
        return F.max(c).cast("double")
    if r.agg == "sum":
        return F.sum(c.cast("decimal(28,6)")).cast("double")
    if r.agg == "count":
        return F.count(c).cast("double")
    if r.agg == "null_rate":
        return F.avg(c.isNull().cast("double"))
    if r.agg == "distinct":
        return F.count_distinct(c).cast("double")
    if r.agg == "approx_distinct":
        return F.approx_count_distinct(c).cast("double")
    raise ValueError(f"unknown aggregate {r.agg!r}")  # pragma: no cover


def _benford_counts(column: str, prefix: str) -> list[Column]:
    """Per-digit counts ``{prefix}_1``..``{prefix}_9`` of ``column``'s
    first significant digit, and ``{prefix}_n``, the usable rows."""
    v = F.abs(F.col(column).cast("double"))
    # first significant digit via the string path: representation-
    # agnostic (plain and E-notation both), immune to the classic
    # log10(1000) = 2.999... floor bug a pow/log derivation has
    digit = F.substring(F.regexp_replace(v.cast("string"), "[^1-9]", ""), 1, 1)
    # finite positives only: NaN compares > 0 true in Spark and
    # ±Inf has no first digit — counting either as usable would
    # deflate every digit share and spuriously inflate the MAD
    usable = v.isNotNull() & (v > 0) & ~F.isnan(v) & (v < float("inf"))
    return [
        F.sum(F.when(usable & (digit == str(d)), F.lit(1)).otherwise(F.lit(0)))
        .alias(f"{prefix}_{d}")
        for d in range(1, 10)
    ] + [F.sum(F.when(usable, 1).otherwise(0)).alias(f"{prefix}_n")]


def _recon_total(r: ReconciliationRule, column: str) -> Column:
    """A ReconciliationRule's per-partition control total of ``column``
    as a double; sums go through exact decimal partials, so the verdict
    is order-independent."""
    if r.agg == "count":
        return F.count(F.col(column)).cast("double")
    return F.sum(F.col(column).cast("decimal(38,6)")).cast("double")


def _partition_stats(
    df: DataFrame, aggs: list, drift_rules: list, *, partition_col: str
) -> tuple[DataFrame, dict, list]:
    """The per-partition aggregates of the rule set in ONE collected
    ``df.groupBy(partition_col).agg(...)``.

    Returns ``(stats, drift, counts)``. ``stats`` holds one row
    per partition, planned as a LocalRelation (no rescan when joined or
    filtered later): ``__rows`` (rows_checked, VolumeRule), then the
    named ``aggs`` compile_rules asks for — ``__q1_{tag}``/``__q3_{tag}``
    (IQR fences), ``__last_seq``/``__last_key`` (staleness),
    ``__med_{tag}`` (MAD stage 1), ``__agg_{i}`` (AggregateRule fences),
    ``__ben{i}_{d}``/``__ben{i}_n`` (Benford digit counts),
    ``__rec_{i}`` (the table side of a reconciliation) and the
    ProfileSpec state (``{c}__{stat}``, functions/stats.profile_aggs).
    ``drift`` maps each of ``drift_rules``' (column, bins) to its
    (partition_key, psi, ks, w1) frame, scored on the driver
    (functions/stats.score_drift) from a dense per-bin count array the
    same pass collects; ``counts`` is ``__rows`` on the driver.

    Reads ``df``, the pre-payload frame: the payload Arrow pass is a
    column-pruning barrier, so an aggregate hanging off the decoded frame
    would re-decode every payload to read one numeric column. Drift bin
    edges come from one min/max collect over ``df``'s drift columns (this
    pass's only other action), so the same table always gets the same
    edges.
    """
    from ..functions.stats import (
        drift_bin_edges,
        drift_frame,
        drift_histogram,
        score_drift,
    )

    aggs = [F.count(F.lit(1)).alias("__rows"), *aggs]
    drift = list(dict.fromkeys((r.column, r.bins) for r in drift_rules))
    grids = {}
    if drift:
        # ONE driver agg fixes bin edges for every drift column
        row = df.agg(
            *[
                a
                for c in dict.fromkeys(c for c, _ in drift)
                for a in (F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}"))
            ]
        ).collect()[0]
        for i, (c, bins) in enumerate(drift):
            bounds = (row[f"__lo_{c}"], row[f"__hi_{c}"])
            if bounds[0] is not None:  # an all-NULL column scores nothing
                lo, width = drift_bin_edges(bounds, bins)
                grids[c, bins] = (f"__hist_{i}", width)
                aggs.append(drift_histogram(c, lo, width, bins).alias(f"__hist_{i}"))

    spark = df.sparkSession
    grouped = df.groupBy(partition_col).agg(*aggs)
    table = grouped.toArrow()
    hist_cols = [name for name, _ in grids.values()]
    stats = spark.createDataFrame(
        table.drop_columns(hist_cols), schema=grouped.drop(*hist_cols).schema
    )
    keys = table.column(partition_col).to_pylist()
    key_type = grouped.schema[partition_col].dataType
    scores = {}
    for grid in drift:
        hists = []
        if grid in grids:
            name, width = grids[grid]
            hists = [(k, h, width) for k, h in zip(keys, table.column(name).to_pylist())]
        scores[grid] = drift_frame(spark, score_drift(hists), key_type)
    return stats, scores, table.column("__rows").to_pylist()
