"""Rule → DataFrame-plan compiler.

This is the layer the reference does not have (its five detectors are five
independent SQL queries re-run every minute; its docs call out the cost of
that — reference: content/copies-pipes.md:13). Here ALL rules over a table
compile into ONE plan that Catalyst can optimize as a whole:

at compile time, one collected partition-stats action (_partition_stats):
 └─ ONE groupBy(partition).agg over the column-pruned pre-payload frame:
     row count (rows_checked, volume fences), IQR quartiles, latest
     seq/key (staleness) and a dense per-bin count array per drift
     column; the rows come back as a LocalRelation and drift is scored
     on the driver (functions/stats.score_drift). A drift column whose
     bin edges are not given costs one more min/max collect, shared by
     every such column.

the lazy violations plan:
scan (column-pruned: only referenced columns are read)
 ├─ the payload pass (audio, image or video decode, only if requested):
 │   one zero-copy functions/payload.map_payloads Arrow pass; it consumes
 │   and DROPS the payload column so every later stage flows narrow rows
 ├─ one left join to the manifest (covers referential + transcript rules)
 ├─ one Window pass over (partition, seq) (covers rate-of-change, gap,
 │   rolling z-score — all window columns share the same WindowSpec, so
 │   Spark evaluates them in a single Window exec → a single shuffle)
 ├─ one broadcast join of the per-partition IQR fences from the stats
 │   rows (≙ reference JOIN stats ON id — tinybird/pipes/iqr.pipe:49-50 —
 │   broadcast because stats has ≤1 row per partition)
 └─ fused violation projection: each row-local/window rule contributes a
     WHEN(cond, struct(...)) element; array_compact + explode emits the
     violation rows in the same stage (no extra scan per rule).

Staleness, volume and drift violations are projections of the stats rows;
other table-level rules (unique, aggregate, categorical, …) aggregate
instead of scanning per-row, and all are unioned into the same violations
output.

Scale notes (100 TB / 10^12 rows):
- the only wide shuffle is the Window pass, keyed by the table's physical
  partition key → co-partitioned with the Iceberg layout, so AQE sees
  near-no-op exchanges; skewed partitions are split by AQE skew handling,
  and the IQR fence join is a broadcast (never a shuffle).
- the violation projection multiplies nothing: array_compact drops
  non-violations before the explode, so the exploded row count equals the
  violation count (≪ input).
"""

from __future__ import annotations

import math
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
    RefMatchRule,
    ProfileSpec,
    RangeRule,
    RateOfChangeRule,
    ReconciliationRule,
    RefIntegrityRule,
    Rule,
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
    seq_col: str | None,
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
    if seq_col is None:
        raise ValueError("exclusion_windows need seq_col")
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


def compile_rules(
    df: DataFrame,
    rules: list,
    *,
    key_col: str = "clip_id",
    partition_col: str = "partition_key",
    seq_col: str | None = None,
    frontier: int | None = None,
    refs: dict[str, DataFrame] | None = None,
    audio_check_columns: DataFrame | None = None,
    window_chunk_size: int | None = None,
    exclusion_windows: DataFrame | None = None,
    drift_bounds: dict | None = None,
) -> CompiledPlan:
    """Compile ``rules`` over ``df`` into a single fused plan.

    Eager: compiling runs the partition-stats action (see
    :func:`_partition_stats`); the returned violations stay lazy.

    ``drift_bounds`` — optional {column: (lo, hi)} bin-edge bounds for
    DriftRule columns, typically served from the checkpointed profile
    state table (functions/stats.bounds_from_states): when every drift
    column is covered the per-run corpus min/max collect is skipped
    (the one extra job DriftRules otherwise cost); uncovered columns
    fall back to it (cold start).

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
    """
    refs = refs or {}
    base = df

    # ---- one Arrow pass for audio rules (FIRST: it consumes and DROPS the
    # payload column, so everything downstream — manifest join, window
    # shuffle, aggregates — flows narrow rows only) -----------------------
    # payload octet lengths must be captured BEFORE the audio pass drops
    # the payload column — PayloadSizeRule + an audio rule in one ruleset
    # is the normal full-surface deployment (the size gate is the cheap
    # filter in FRONT of the decode)
    size_rules = [r for r in rules if isinstance(r, PayloadSizeRule)]
    for bc in sorted({r.bytes_column for r in size_rules}):
        base = base.withColumn(
            f"__octets_{bc}", F.length(F.col(bc)).cast("long")
        )

    audio_rules = [r for r in rules if isinstance(r, AudioDecodeRule)]
    qc_rules = [r for r in rules if isinstance(r, AudioQcRule)]
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
                bytes_column=q0.bytes_column,
                codec_column=q0.codec_column,
                sr_column=q0.sr_column,
                dur_column=q0.dur_column,
            )
        base = with_audio_checks(
            base,
            rule,
            key_col=key_col,
            qc=bool(qc_rules),
            compute_snr=bool(audio_rules),
        )

    # ---- image decode pass (same fused shape as audio: ONE zero-copy
    # Arrow pass appends the check columns and drops the payload) --------
    image_rules = [r for r in rules if isinstance(r, ImageDecodeRule)]
    if image_rules:
        from ..functions.multimodal import with_image_checks

        (img_rule,) = image_rules  # one image rule per run
        base = with_image_checks(base, img_rule, key_col=key_col)

    # ---- video demux pass (same fused shape: ONE zero-copy Arrow pass
    # appends the check columns and drops the payload) -------------------
    video_rules = [r for r in rules if isinstance(r, VideoDecodeRule)]
    if video_rules:
        from ..functions.multimodal import with_video_checks

        (vid_rule,) = video_rules  # one video rule per run
        base = with_video_checks(base, vid_rule, key_col=key_col)

    # ---- one manifest join serves referential/transcript/match rules ----
    ref_rules = [
        r
        for r in rules
        if isinstance(r, (RefIntegrityRule, TranscriptRule, RefMatchRule))
    ]
    manifest_cols: dict[str, str] = {}
    if ref_rules:
        names = {r.ref_table for r in ref_rules}
        if len(names) > 1:
            raise ValueError(f"multiple ref tables in one run not supported: {names}")
        ref_name = names.pop()
        if ref_name not in refs:
            raise ValueError(f"rule references unknown table {ref_name!r}")
        manifest = refs[ref_name]
        # dedup while preserving order: the exact and distance transcript
        # rules share ref_column, and a duplicate __ref_ alias would be
        # ambiguous downstream
        wanted = list(
            dict.fromkeys(
                [key_col]
                + [
                    r.ref_column
                    for r in ref_rules
                    if isinstance(r, (TranscriptRule, RefMatchRule))
                ]
            )
        )
        sel = manifest.select(
            F.col(key_col).alias("__ref_key"),
            *[
                F.col(c).alias(f"__ref_{c}")
                for c in wanted
                if c != key_col
            ],
        )
        # Equi-join on the key. At 10^12 scale this is the one big join;
        # with both sides Iceberg-bucketed by clip_id it becomes a
        # storage-partitioned join (no shuffle). Locally a plain SMJ/AQE
        # choice is fine, so no broadcast hint here on purpose.
        base = base.join(sel, base[key_col] == sel["__ref_key"], "left")
        manifest_cols = {
            r.ref_column: f"__ref_{r.ref_column}"
            for r in ref_rules
            if isinstance(r, TranscriptRule)
        }

    # ---- calibration revisions: one sorted array per partition, broadcast
    # 1:1 onto the fact row; the as-of pick is a row-local HOF in the
    # fused projection below. Same at-scale shape as _exemption_filter:
    # the revision set is operator-declared (≪ data), so the fact table
    # never shuffles and never fans out for the rule.
    cal_rules = [r for r in rules if isinstance(r, CalibratedRangeRule)]
    if cal_rules:
        if seq_col is None:
            raise ValueError("CalibratedRangeRule needs seq_col")
        for i, r in enumerate(cal_rules):
            if r.revisions_table not in refs:
                raise ValueError(
                    f"rule references unknown table {r.revisions_table!r}"
                )
            revs = refs[r.revisions_table]
            missing = [
                c
                for c in ("partition_key", r.eff_seq_column, r.lo_column, r.hi_column)
                if c not in revs.columns
            ]
            if missing:
                raise ValueError(
                    f"CalibratedRangeRule: revisions table "
                    f"{r.revisions_table!r} missing columns {missing}"
                )
            # sort_array on (s, lo, hi) structs orders by s first — the
            # element_at(filter(...), -1) pick below then reads the
            # LATEST revision with eff_seq <= row seq
            arr = revs.groupBy(
                F.col("partition_key").alias(partition_col)
            ).agg(
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

    # ---- shared window columns ------------------------------------------
    window_rules = [
        r
        for r in rules
        if isinstance(
            r, (RateOfChangeRule, GapRule, ZScoreRule, MonotonicRule)
        )
    ]
    if window_rules:
        if seq_col is None:
            raise ValueError("sequence rules need seq_col")

        def window_cols(w) -> list[Column]:
            # keyed by alias, first-wins: two rules of the same family on
            # the same column (e.g. strict + non-strict MonotonicRule, or
            # several RateOfChange/Gap rules) request the IDENTICAL lag
            # expression — emitting it twice would duplicate the column
            # name and make the later F.col() read ambiguous
            cols: dict[str, Column] = {}

            def add(name: str, col: Column) -> None:
                if name not in cols:
                    cols[name] = col.alias(name)

            for r in window_rules:
                if isinstance(r, RateOfChangeRule):
                    # ≙ lagInFrame(value/timestamp, 1) OVER (PARTITION BY id
                    #   ORDER BY timestamp) — tinybird/pipes/rate_of_change.pipe:31-34
                    add(f"__prev_{r.column}", F.lag(r.column, 1).over(w))
                    add("__prev_seq_roc", F.lag(seq_col, 1).over(w))
                elif isinstance(r, GapRule):
                    add("__prev_seq_gap", F.lag(seq_col, 1).over(w))
                elif isinstance(r, MonotonicRule):
                    add(f"__prev_mono_{r.column}", F.lag(r.column, 1).over(w))
                elif isinstance(r, ZScoreRule):
                    # Sliding count window per north star (SURVEY.md §2.5 W1
                    # generalization): trailing `window` rows, excluding self.
                    # avg/stddevPop come from EXPLICIT sum/sum-of-squares —
                    # not F.avg/F.stddev_pop — so that for integer (or
                    # decimal-quantized) columns the frame sums are exact
                    # and the derived moments are a fixed IEEE op sequence
                    # any engine (the DuckDB oracle) reproduces bit-for-bit.
                    # Welford-style streaming moments give last-ulp results
                    # that differ per engine and flip rounded note digits.
                    # alias carries the window size: two ZScoreRules on the
                    # same column with DIFFERENT windows need distinct frames
                    wf = w.rowsBetween(-r.window, -1)
                    add(
                        f"__zs1_{r.column}_w{r.window}",
                        F.sum(F.col(r.column).cast("double")).over(wf),
                    )
                    add(
                        f"__zs2_{r.column}_w{r.window}",
                        F.sum(
                            F.col(r.column).cast("double")
                            * F.col(r.column).cast("double")
                        ).over(wf),
                    )
                    add(f"__zcnt_{r.column}_w{r.window}", F.count(r.column).over(wf))
            return list(cols.values())

        if window_chunk_size is not None:
            # skew-safe path (operators/skew.py): one task per
            # (partition, seq-chunk) instead of one task per partition —
            # at 10^12 rows a hot partition would otherwise be a single
            # straggler task that AQE cannot split
            from .skew import chunked_window_cols

            frame_rows = max(
                [1]
                + [r.window for r in window_rules if isinstance(r, ZScoreRule)]
            )
            base = chunked_window_cols(
                base,
                partition_col=partition_col,
                seq_col=seq_col,
                frame_rows=frame_rows,
                chunk_size=window_chunk_size,
                cols_builder=window_cols,
            )
        else:
            w = Window.partitionBy(partition_col).orderBy(seq_col)
            base = base.select("*", *window_cols(w))

    # ---- CUSUM change-point columns ---------------------------------------
    # Page's recursion S_t = max(0, S_{t-1} + y_t) via its closed form
    # S_t = P_t - min(0, min_{j<=t} P_j): a running DECIMAL sum, then a
    # running min of it — two Window expression layers over the SAME
    # (partition, seq) exchange the other sequence rules use (a second
    # sort, zero extra shuffles). Decimal sums are exact ⇒ associative ⇒
    # the verdict set is engine- and order-independent. Ties on seq are
    # broken by key_col so the prefix order is total (planted duplicate
    # rows must not make two engines walk the sequence differently).
    cusum_rules = [r for r in rules if isinstance(r, CusumRule)]
    if cusum_rules:
        if seq_col is None:
            raise ValueError("sequence rules need seq_col")

        def _y(r: CusumRule, side: str) -> Column:
            x = F.col(r.column).cast("decimal(28,6)")
            t = F.lit(r.target).cast("decimal(28,6)")
            kk = F.lit(r.k).cast("decimal(28,6)")
            return (x - t - kk) if side == "up" else (t - x - kk)

        if window_chunk_size is not None:
            # skew-safe path: the two-level prefix decomposition — a
            # 10^12-row partition runs as rows/chunk_size parallel tasks
            # instead of one straggler (exact at ANY chunk size; see
            # operators/skew.chunked_cusum_cols)
            from .skew import chunked_cusum_cols

            ymap: dict[str, Column] = {}
            for i, r in enumerate(cusum_rules):
                ymap[f"cusum_su_{i}"] = _y(r, "up")
                if r.two_sided:
                    ymap[f"cusum_sd_{i}"] = _y(r, "dn")
            base = chunked_cusum_cols(
                base,
                partition_col=partition_col,
                seq_col=seq_col,
                key_col=key_col,
                y_cols=ymap,
                chunk_size=window_chunk_size,
            )
        else:
            wc = (
                Window.partitionBy(partition_col)
                .orderBy(seq_col, key_col)
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            pcols: list[Column] = []
            for i, r in enumerate(cusum_rules):
                pcols.append(F.sum(_y(r, "up")).over(wc).alias(f"__cusum_pu_{i}"))
                if r.two_sided:
                    pcols.append(
                        F.sum(_y(r, "dn")).over(wc).alias(f"__cusum_pd_{i}")
                    )
            base = base.select("*", *pcols)
            zero = F.lit(0).cast("decimal(38,6)")
            mcols: list[Column] = []
            for i, r in enumerate(cusum_rules):
                p = F.col(f"__cusum_pu_{i}").cast("decimal(38,6)")
                m = F.min(p).over(wc)
                mcols.append((p - F.least(zero, m)).alias(f"__cusum_su_{i}"))
                if r.two_sided:
                    p = F.col(f"__cusum_pd_{i}").cast("decimal(38,6)")
                    m = F.min(p).over(wc)
                    mcols.append((p - F.least(zero, m)).alias(f"__cusum_sd_{i}"))
            base = base.select("*", *mcols)

    # ---- EWMA control-chart columns ---------------------------------------
    # z_t = lam*x_t + (1-lam)*z_{t-1} via the truncated closed form
    # z_t ≈ Σ_{k<K} lam(1-lam)^k x_{t-k} + (1-lam)^K target: K lag terms
    # over ONE (partition, seq, key) window, summed in a fixed
    # left-to-right literal order so the DuckDB oracle reproduces every
    # IEEE double bit-for-bit (see rules.EwmaRule). Pre-head lags and
    # NULL values contribute `target` (the chart's z_{-1} convention).
    ewma_rules = [r for r in rules if isinstance(r, EwmaRule)]
    if ewma_rules:
        if seq_col is None:
            raise ValueError("sequence rules need seq_col")

        def ewma_cols(w) -> list[Column]:
            cols: list[Column] = []
            for i, r in enumerate(ewma_rules):
                x = F.col(r.column).cast("double")
                tgt = F.lit(float(r.target))
                coeffs, tail = r.weights()
                z = F.lit(coeffs[0]) * F.coalesce(x, tgt)
                for k in range(1, r.truncate):
                    z = z + F.lit(coeffs[k]) * F.coalesce(
                        F.lag(x, k).over(w), tgt
                    )
                cols.append((z + F.lit(tail)).alias(f"__ewma_{i}"))
            return cols

        if window_chunk_size is not None:
            # same skew-safe decomposition the other sequence rules use:
            # the truncated form only ever looks `truncate` rows back, so
            # a chunk prefixed with the previous chunk's tail reproduces
            # the global window exactly (operators/skew.chunked_window_cols)
            from .skew import chunked_window_cols

            base = chunked_window_cols(
                base,
                partition_col=partition_col,
                seq_col=seq_col,
                frame_rows=max(r.truncate for r in ewma_rules),
                chunk_size=window_chunk_size,
                cols_builder=ewma_cols,
            )
        else:
            we = Window.partitionBy(partition_col).orderBy(seq_col, key_col)
            base = base.select("*", *ewma_cols(we))

    # ---- the partition-stats pass: ONE grouped action over the pre-audio
    # frame serves rows_checked, volume fences, IQR fences, staleness and
    # drift histograms (see _partition_stats) ------------------------------
    part_stats, drift = _partition_stats(
        df, rules, key_col=key_col, partition_col=partition_col,
        seq_col=seq_col, frontier=frontier, drift_bounds=drift_bounds,
    )

    # ---- per-partition IQR fences: a broadcast join of the stats rows ----
    iqr_rules = [r for r in rules if isinstance(r, IqrRule)]
    if iqr_rules:
        # ≤1 row per partition → always broadcast (≙ the reference's
        # stats-CTE join, iqr.pipe:49-50, which ClickHouse keeps in memory).
        fences = part_stats.select(
            partition_col,
            *[f"__q{k}_{r.column}" for r in iqr_rules for k in (1, 3)],
        )
        base = base.join(F.broadcast(fences), partition_col, "left")

    # ---- per-partition median/MAD: two sequential aggs + broadcast join ---
    mad_rules = [r for r in rules if isinstance(r, MadRule)]
    for r in mad_rules:
        vcol = F.col(r.column).cast("double")
        if r.exact:
            med_agg = F.percentile(vcol, F.lit(0.5))
        else:
            med_agg = F.percentile_approx(vcol, 0.5, r.accuracy)
        # MAD is doubly holistic (median of |x - median|): pass 1 computes
        # the per-partition median, pass 2 the median deviation. Both read
        # ONE slim column off the pre-audio frame (column pruning keeps
        # payloads out) and reduce to ~1 row per partition.
        med = df.groupBy(partition_col).agg(med_agg.alias(f"__med_{r.column}"))
        dev = df.select(partition_col, r.column).join(
            F.broadcast(med), partition_col
        )
        absdev = F.abs(vcol - F.col(f"__med_{r.column}"))
        if r.exact:
            mad_agg = F.percentile(absdev, F.lit(0.5))
        else:
            mad_agg = F.percentile_approx(absdev, 0.5, r.accuracy)
        stats = dev.groupBy(partition_col).agg(
            F.first(f"__med_{r.column}").alias(f"__med_{r.column}"),
            mad_agg.alias(f"__mad_{r.column}"),
        )
        base = base.join(F.broadcast(stats), partition_col, "left")

    # ---- per-(partition, phase) seasonal baselines: one agg + broadcast ---
    seasonal_rules = [r for r in rules if isinstance(r, SeasonalRule)]
    for r in seasonal_rules:
        if seq_col is None:
            raise ValueError("sequence rules need seq_col")
        tag = f"{r.column}_{r.period}"
        ph = F.pmod(F.col(seq_col), F.lit(r.period)).cast("long")
        d = F.col(r.column).cast("decimal(28,6)")
        # exact decimal moments per (partition, phase) — the same
        # determinism contract as AggregateRule avg/stddev: the derived
        # double is one fixed IEEE op sequence any engine reproduces.
        # ≤ partitions × period rows → always broadcast; reads ONE slim
        # column off the pre-audio frame.
        stats = df.groupBy(
            F.col(partition_col), ph.alias(f"__sphase_{tag}")
        ).agg(
            F.sum(d).cast("double").alias(f"__ss1_{tag}"),
            F.sum(d * d).cast("double").alias(f"__ss2_{tag}"),
            F.count(F.col(r.column)).alias(f"__scnt_{tag}"),
        )
        if f"__sphase_{tag}" not in base.columns:
            base = base.withColumn(
                f"__sphase_{tag}",
                F.pmod(F.col(seq_col), F.lit(r.period)).cast("long"),
            )
            base = base.join(
                F.broadcast(stats), [partition_col, f"__sphase_{tag}"], "left"
            )

    # ---- fused violation projection --------------------------------------
    entries: list[Column] = []
    detectors: list[str] = []
    partition_level: list[str] = []

    def _entry(detector: str, cond: Column, observed: Column, note: Column) -> None:
        detectors.append(detector)
        entries.append(
            F.when(
                cond,
                F.struct(
                    F.lit(detector).alias("detector"),
                    observed.cast("string").alias("observed"),
                    note.cast("string").alias("note"),
                ),
            )
        )

    for r in rules:
        if isinstance(r, RangeRule):
            conds = []
            note_bits = []
            if r.min_value is not None:
                conds.append(F.col(r.column) < F.lit(r.min_value))
                note_bits.append(f"min:{r.min_value:g}")
            if r.max_value is not None:
                conds.append(F.col(r.column) > F.lit(r.max_value))
                note_bits.append(f"max:{r.max_value:g}")
            cond = reduce(lambda a, b: a | b, conds)
            # note ≙ concat('min:', toString(min), ' max:', toString(max))
            #   — copy_out_of_range.pipe:44
            _entry(r.detector, cond, F.col(r.column), F.lit(" ".join(note_bits)))

        elif isinstance(r, CalibratedRangeRule):
            i = next(j for j, cr in enumerate(cal_rules) if cr is r)
            seq = F.col(seq_col).cast("long")
            # latest revision with eff_seq <= seq; try_element_at (not
            # element_at) because ANSI mode errors on the empty-array
            # pick a pre-first-revision row produces
            eff = F.try_element_at(
                F.filter(F.col(f"__cal_{i}"), lambda w: w["s"] <= seq), F.lit(-1)
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
            _entry(r.detector, cond, F.col(r.column), note)

        elif isinstance(r, NotNullRule):
            cond = F.col(r.column).isNull()
            if r.treat_empty_as_null:
                cond = cond | (F.col(r.column).cast("string") == F.lit(""))
            _entry(r.detector, cond, F.lit("null"), F.lit(f"column:{r.column} must not be null"))

        elif isinstance(r, ValueSetRule):
            cond = ~F.col(r.column).isin(*r.allowed) | F.col(r.column).isNull()
            _entry(
                r.detector,
                cond,
                F.col(r.column),
                F.lit(f"column:{r.column} allowed:" + ",".join(map(str, r.allowed))),
            )

        elif isinstance(r, PatternRule):
            matches = F.col(r.column).cast("string").rlike(r.pattern)
            cond = F.col(r.column).isNotNull() & (
                matches if r.negate else ~matches
            )
            verb = "must not match" if r.negate else "must match"
            _entry(
                r.detector,
                cond,
                F.col(r.column),
                F.lit(f"column:{r.column} {verb} pattern:{r.pattern}"),
            )

        elif isinstance(r, PayloadSizeRule):
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
            _entry(r.detector, cond, found.cast("string"), note)

        elif isinstance(r, SpeechRateRule):
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
            _entry(r.detector, cond, _fmt(cps), note)

        elif isinstance(r, RateOfChangeRule):
            prev_v = F.col(f"__prev_{r.column}")
            dseq = (F.col(seq_col) - F.col("__prev_seq_roc")).cast("double")
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
            _entry(r.detector, cond, _fmt(slope), note)

        elif isinstance(r, GapRule):
            gap = F.col(seq_col) - F.col("__prev_seq_gap")
            cond = gap > F.lit(r.max_gap)
            note = F.concat(
                F.lit("gap: previous seq "),
                F.col("__prev_seq_gap").cast("string"),
                F.lit(" -> "),
                F.col(seq_col).cast("string"),
                F.lit(f" exceeds max_gap:{r.max_gap}"),
            )
            _entry(r.detector + "-gap", cond, gap.cast("string"), note)

        elif isinstance(r, MonotonicRule):
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
            _entry(r.detector, cond, cur.cast("string"), note)

        elif isinstance(r, ZScoreRule):
            cnt_c = F.col(f"__zcnt_{r.column}_w{r.window}")
            avg_c = F.col(f"__zs1_{r.column}_w{r.window}") / cnt_c
            std_c = F.sqrt(
                F.greatest(
                    F.col(f"__zs2_{r.column}_w{r.window}") / cnt_c - avg_c * avg_c,
                    F.lit(0.0),
                )
            )
            z = F.when(
                (cnt_c >= r.min_periods) & (std_c > 0),
                (F.col(r.column) - avg_c) / std_c,
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
                F.lit(" | average: "), _fmt(avg_c),
                F.lit(" | std_dev: "), _fmt(std_c),
            )
            _entry(r.detector, cond, _fmt(z, 4), note)

        elif isinstance(r, IqrRule):
            q1c, q3c = F.col(f"__q1_{r.column}"), F.col(f"__q3_{r.column}")
            iqr = (q3c - q1c) * F.lit(r.multiplier)  # ≙ iqr.pipe:34
            lo, hi = q1c - iqr, q3c + iqr
            cond = (F.col(r.column) > hi) | (F.col(r.column) < lo)  # ≙ iqr.pipe:52-53
            note = F.concat(
                F.lit("lower_bound:"), _fmt(lo),
                F.lit("| upper_bound:"), _fmt(hi),
            )  # ≙ copy_iqr.pipe:80
            _entry(r.detector, cond, F.col(r.column), note)

        elif isinstance(r, SeasonalRule):
            tag = f"{r.column}_{r.period}"
            cnt_s = F.col(f"__scnt_{tag}")
            avg_s = F.col(f"__ss1_{tag}") / cnt_s
            std_s = F.sqrt(
                F.greatest(
                    F.col(f"__ss2_{tag}") / cnt_s - avg_s * avg_s,
                    F.lit(0.0),
                )
            )
            z = F.when(
                (cnt_s >= r.min_count) & (std_s > 0),
                (F.col(r.column).cast("double") - avg_s) / std_s,
            )
            cond = F.abs(z) > F.lit(r.threshold)
            note = F.concat(
                F.lit("seasonal z: "), F.substring(z.cast("string"), 1, 6),
                F.lit(" | phase: "), F.col(f"__sphase_{tag}").cast("string"),
                F.lit(f"/{r.period}"),
                F.lit(" | average: "), _fmt(avg_s),
                F.lit(" | std_dev: "), _fmt(std_s),
            )
            _entry(r.detector, cond, _fmt(z, 4), note)

        elif isinstance(r, MadRule):
            medc = F.col(f"__med_{r.column}")
            madc = F.col(f"__mad_{r.column}")
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
            _entry(r.detector, cond, _fmt(z, 4), note)

        elif isinstance(r, PredicateRule):
            ok = F.expr(r.expr)
            # IS NOT TRUE: a NULL (unknown) predicate does not satisfy
            cond = ~F.coalesce(ok, F.lit(False))
            _entry(
                r.detector,
                cond,
                F.when(ok.isNull(), "null").otherwise("false"),
                F.lit(f"must satisfy: {r.expr}"),
            )

        elif isinstance(r, CusumRule):
            i = next(j for j, cr in enumerate(cusum_rules) if cr is r)
            su = F.col(f"__cusum_su_{i}").cast("double")
            sd = (
                F.col(f"__cusum_sd_{i}").cast("double")
                if r.two_sided
                else F.lit(None).cast("double")
            )
            breach = su > F.lit(r.h)
            if r.two_sided:
                breach = breach | (sd > F.lit(r.h))
            # NULL x rows carry S across but are never themselves flagged
            cond = F.col(r.column).isNotNull() & breach
            observed = (
                F.concat(
                    F.lit("cusum_hi:"), _fmt(su), F.lit("| cusum_lo:"), _fmt(sd)
                )
                if r.two_sided
                else F.concat(F.lit("cusum_hi:"), _fmt(su))
            )
            note = F.lit(
                f"target:{r.target:g}| k:{r.k:g}| h:{r.h:g}"
            )
            _entry(r.detector, cond, observed, note)

        elif isinstance(r, EwmaRule):
            i = next(j for j, er in enumerate(ewma_rules) if er is r)
            z = F.col(f"__ewma_{i}")
            limit = r.limit()
            lo, hi = r.target - limit, r.target + limit
            # NULL x rows contribute `target` to later rows' z but are
            # never themselves flagged (same contract as CUSUM)
            cond = F.col(r.column).isNotNull() & (
                (z < F.lit(lo)) | (z > F.lit(hi))
            )
            note = F.concat(
                F.lit("ewma:"),
                _fmt(z, 4),
                F.lit(
                    f"| target:{r.target:g}| limit:{limit:.4f}"
                    f"| lam:{r.lam:g}"
                ),
            )
            _entry(r.detector, cond, _fmt(z, 4), note)

        elif isinstance(r, RefMatchRule):
            refc = F.col(f"__ref_{r.ref_column}")
            # manifest-absent keys skipped (RefIntegrityRule owns orphans);
            # NULL-safe comparison so NULL vs value flags, NULL==NULL not
            cond = F.col("__ref_key").isNotNull() & ~F.col(r.column).eqNullSafe(
                refc
            )
            observed = F.coalesce(F.col(r.column).cast("string"), F.lit("NULL"))
            note = F.concat(
                F.lit(f"{r.column} expected:"),
                F.coalesce(refc.cast("string"), F.lit("NULL")),
                F.lit(f"| source:{r.ref_table}.{r.ref_column}"),
            )
            _entry(r.detector, cond, observed, note)

        elif isinstance(r, TranscriptDistanceRule):
            # ordered before the exact branch: isinstance(r, TranscriptRule)
            # would also match this subclass. levenshtein is a codegen'd
            # Catalyst expression — the tolerance check stays JVM-side and
            # row-local on the same manifest join as the exact rule.
            expected = F.col(manifest_cols[r.ref_column])
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
            _entry(r.detector, cond, F.col(r.column), note)

        elif isinstance(r, TranscriptRule):
            expected = F.col(manifest_cols[r.ref_column])
            cond = expected.isNotNull() & (
                F.col(r.column).isNull() | (F.col(r.column) != expected)
            )
            _entry(
                r.detector,
                cond,
                F.col(r.column),
                F.concat(F.lit("expected transcript: "), expected),
            )

        elif isinstance(r, RefIntegrityRule):
            # manifest joined above; missing key ⇒ orphan row
            cond = F.col("__ref_key").isNull()
            _entry(
                r.detector,
                cond,
                F.col(r.column),
                F.lit(f"{r.column} not present in {r.ref_table}"),
            )

        elif isinstance(r, AudioDecodeRule):
            cond = ~F.col("__audio_ok")
            snr_s = F.coalesce(_fmt(F.col("__audio_snr_db")), F.lit("nan"))
            note = F.concat(
                F.lit("snr_db:"), snr_s,
                F.lit(f"| min_snr_db:{r.min_snr_db:g}"),
                F.lit("| decode_error:"), F.coalesce(F.col("__audio_err"), F.lit("")),
            )
            _entry(r.detector, cond, snr_s, note)

        elif isinstance(r, ImageDecodeRule):
            cond, decoded, note = _decode_check(
                "__img_ok", "__img_err", "decode_error",
                [("__img_w", r.width_column, ""), ("__img_h", r.height_column, "x")],
            )
            _entry(r.detector, cond, decoded, note)

        elif isinstance(r, VideoDecodeRule):
            cond, decoded, note = _decode_check(
                "__vid_ok", "__vid_err", "demux_error",
                [
                    ("__vid_w", r.width_column, ""),
                    ("__vid_h", r.height_column, "x"),
                    ("__vid_frames", r.frames_column, "@"),
                ],
            )
            _entry(r.detector, cond, decoded, note)

        elif isinstance(r, AudioQcRule):
            cr = F.col("__audio_clip_ratio")
            sil = F.col("__audio_silence_ratio")
            rms = F.col("__audio_rms")
            conds = []
            bound_bits = []
            if r.max_clip_ratio is not None:
                conds.append(cr > F.lit(float(r.max_clip_ratio)))
                bound_bits.append(f"max_clip_ratio:{r.max_clip_ratio:g}")
            if r.max_silence_ratio is not None:
                conds.append(sil > F.lit(float(r.max_silence_ratio)))
                bound_bits.append(f"max_silence_ratio:{r.max_silence_ratio:g}")
            if r.min_rms is not None:
                conds.append(rms < F.lit(float(r.min_rms)))
                bound_bits.append(f"min_rms:{r.min_rms:g}")
            if r.max_rms is not None:
                conds.append(rms > F.lit(float(r.max_rms)))
                bound_bits.append(f"max_rms:{r.max_rms:g}")
            # decode failures: all metrics NULL → cond NULL → never flagged
            cond = reduce(lambda a, b: a | b, conds)
            observed = F.concat(
                F.lit("clip_ratio:"), _fmt(cr, 4),
                F.lit("| silence_ratio:"), _fmt(sil, 4),
                F.lit("| rms:"), _fmt(rms, 4),
            )
            _entry(r.detector, cond, observed, F.lit("| ".join(bound_bits)))

        elif isinstance(
            r,
            (
                UniqueRule,
                FdRule,
                DriftRule,
                CategoricalDriftRule,
                EntropyRule,
                AggregateRule,
                CompletenessRule,
                BenfordRule,
                ReconciliationRule,
                VolumeRule,
            ),
        ):
            continue  # aggregate-/table-level; handled below
        elif isinstance(r, ProfileSpec):
            continue
        else:
            raise TypeError(f"unknown rule type: {type(r).__name__}")

    fused_parts: list[DataFrame] = []
    if entries:
        proj = base
        if exclusion_windows is not None:
            # row-level detectors only: exempt rows keep feeding window
            # stats / fences / rows_checked above, but emit no violations
            proj = _exemption_filter(
                proj,
                exclusion_windows,
                partition_col=partition_col,
                seq_col=seq_col,
            )
        fused = proj.select(
            F.col(partition_col).alias("partition_key"),
            F.col(key_col).alias("clip_id"),
            # array_compact drops non-violations pre-explode → exploded
            # cardinality == number of violations, not rows × rules.
            F.explode(F.array_compact(F.array(*entries))).alias("v"),
        ).select(
            "partition_key",
            "clip_id",
            F.col("v.detector").alias("detector"),
            F.col("v.observed").alias("observed"),
            F.col("v.note").alias("note"),
        )
        fused_parts.append(fused)

    # ---- staleness (timeout proper): latest seq per partition vs frontier
    gap_rules = [r for r in rules if isinstance(r, GapRule)]
    if gap_rules and frontier is not None:
        (r,) = gap_rules[:1]
        # ≙ timeout.pipe:15-37 — latest report per key, flagged if older
        # than the allowed staleness vs the (frozen) frontier. max_by keeps
        # the full latest row like the reference's LIMIT 1 BY id (W3→A6).
        stale = part_stats.filter(
            F.col("__last_seq") < F.lit(frontier - r.max_staleness)
        ).select(
            F.col(partition_col).alias("partition_key"),
            F.col("__last_key").alias("clip_id"),
            F.lit(r.detector).alias("detector"),
            F.col("__last_seq").cast("string").alias("observed"),
            # ≙ 'timestamp is time of last report' — copy_timeout.pipe:39
            F.lit("seq is last reported seq").alias("note"),
        )
        fused_parts.append(stale)
        if r.detector not in detectors:
            detectors.append(r.detector)
        if r.detector not in partition_level:
            partition_level.append(r.detector)

    # ---- unique ----------------------------------------------------------
    for r in rules:
        if isinstance(r, UniqueRule):
            # per-(partition, key) counts first in BOTH scopes: the heavy
            # aggregation is partition-co-located (map-side combinable on
            # the table's physical layout); global scope then rolls the
            # slim key-grain frame (≤ 1 row per key-partition) up over a
            # key-partitioned window — the corpus itself never shuffles
            # on the bare key.
            per = df.groupBy(partition_col, *r.columns).agg(
                F.count(F.lit(1)).alias("__n")
            )
            if r.scope == "global":
                w = Window.partitionBy(*[F.col(c) for c in r.columns])
                dup_src = per.withColumn(
                    "__total", F.sum("__n").over(w)
                ).filter(F.col("__total") > 1)
                observed = F.col("__total")
                note = (
                    "duplicate key (" + ",".join(r.columns) + ") global scope"
                )
            else:
                dup_src = per.filter(F.col("__n") > 1)
                observed = F.col("__n")
                note = "duplicate key (" + ",".join(r.columns) + ")"
            dup = dup_src.select(
                F.col(partition_col).alias("partition_key"),
                F.col(r.columns[0]).cast("string").alias("clip_id"),
                F.lit(r.detector).alias("detector"),
                observed.cast("string").alias("observed"),
                F.lit(note).alias("note"),
            )
            fused_parts.append(dup)
            if r.detector not in detectors:
                detectors.append(r.detector)

    # ---- functional dependencies ------------------------------------------
    for r in rules:
        if isinstance(r, FdRule):
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
            fused_parts.append(
                src.select(
                    F.col(partition_col).alias("partition_key"),
                    F.concat_ws(
                        "|", *[F.col(c).cast("string") for c in dets]
                    ).alias("clip_id"),
                    F.lit(r.detector).alias("detector"),
                    F.col("__ndep").cast("string").alias("observed"),
                    F.lit(
                        f"fd ({','.join(dets)}) -> {r.dependent} violated "
                        f"({r.scope} scope)"
                    ).alias("note"),
                )
            )
            if r.detector not in detectors:
                detectors.append(r.detector)
            if r.detector not in partition_level:
                # a broken dependency is one defect per partition
                # regardless of row count — exempt from rate tolerance
                partition_level.append(r.detector)

    # ---- aggregate bounds: ONE fused groupBy for every AggregateRule -----
    agg_rules = [r for r in rules if isinstance(r, AggregateRule)]
    if agg_rules:
        # one shuffle of partial aggregates for ALL declared bounds (the
        # same fusion contract as the row-local projection: adding a rule
        # never adds a scan). Pre-audio frame: these read slim metadata
        # columns only.
        fences = df.groupBy(partition_col).agg(
            *[
                _agg_value(r).alias(f"__agg_{i}")
                for i, r in enumerate(agg_rules)
            ]
        )
        agg_entries: list[Column] = []
        for i, r in enumerate(agg_rules):
            v = F.col(f"__agg_{i}")
            conds = []
            note_bits = [f"agg:{r.agg}({r.column})"]
            if r.min_value is not None:
                conds.append(v < F.lit(float(r.min_value)))
                note_bits.append(f"min:{r.min_value:g}")
            if r.max_value is not None:
                conds.append(v > F.lit(float(r.max_value)))
                note_bits.append(f"max:{r.max_value:g}")
            agg_entries.append(
                F.when(
                    reduce(lambda a, b: a | b, conds),
                    F.struct(
                        F.lit(r.detector).alias("detector"),
                        _fmt(v, 4).alias("observed"),
                        F.lit(" ".join(note_bits)).alias("note"),
                    ),
                )
            )
            if r.detector not in detectors:
                detectors.append(r.detector)
            if r.detector not in partition_level:
                # a breached aggregate is ONE violation per partition
                # regardless of partition size — a rate tolerance would
                # silently disable it at production row counts
                partition_level.append(r.detector)
        # same array_compact+explode shape as the row projection: every
        # rule's fence check reads the ONE fences row per partition —
        # per-rule filter branches would re-derive the aggregation (and
        # its corpus scan) once per rule, since Catalyst does not CSE
        # across union branches.
        fused_parts.append(
            fences.select(
                F.col(partition_col).alias("partition_key"),
                F.lit(None).cast("string").alias("clip_id"),
                F.explode(F.array_compact(F.array(*agg_entries))).alias("v"),
            ).select(
                "partition_key",
                "clip_id",
                F.col("v.detector").alias("detector"),
                F.col("v.observed").alias("observed"),
                F.col("v.note").alias("note"),
            )
        )

    # ---- completeness: manifest keys missing from the table --------------
    comp_rules = [r for r in rules if isinstance(r, CompletenessRule)]
    comp_ref_parts: list[DataFrame] = []
    for r in comp_rules:
        if r.ref_table not in refs:
            raise ValueError(f"rule references unknown table {r.ref_table!r}")
        ref = refs[r.ref_table]
        if partition_col not in ref.columns:
            raise ValueError(
                f"CompletenessRule: ref table {r.ref_table!r} must expose "
                f"the partition column {partition_col!r} (the verdict axis "
                "for missing keys)"
            )
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
        fused_parts.append(
            missing.select(
                "partition_key",
                "clip_id",
                F.lit(r.detector).alias("detector"),
                F.lit("missing").alias("observed"),
                F.lit(
                    f"{r.ref_column} present in {r.ref_table} "
                    "but absent from table"
                ).alias("note"),
            )
        )
        if r.detector not in detectors:
            detectors.append(r.detector)
        comp_ref_parts.append(
            ref.select(F.col(partition_col).alias("partition_key")).distinct()
        )

    # ---- drift (KS + PSI over binned histograms, scored on the driver) ----
    for r in rules:
        if isinstance(r, DriftRule):
            fused_parts.append(_drift_violations(drift[r.column, r.bins], r))
            if r.detector not in detectors:
                detectors.append(r.detector)
            if r.detector not in partition_level:
                partition_level.append(r.detector)

    # ---- categorical mix: PSI drift + entropy fences ----------------------
    # Both rule families read the SAME per-(partition, value) count frame
    # (functions/stats.categorical_scores), so a CategoricalDriftRule and
    # an EntropyRule on one column cost one groupBy, not two.
    cat_rules = [
        r for r in rules if isinstance(r, (CategoricalDriftRule, EntropyRule))
    ]
    by_col: dict[str, list] = {}
    for r in cat_rules:
        by_col.setdefault(r.column, []).append(r)
    for colname, rs in by_col.items():
        from ..functions.stats import categorical_scores

        smoothings = {
            r.smoothing for r in rs if isinstance(r, CategoricalDriftRule)
        }
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
        ).localCheckpoint()  # consumed once per rule below
        for r in rs:
            if isinstance(r, CategoricalDriftRule):
                fused_parts.append(
                    scores.filter(F.col("psi") > r.psi_threshold).select(
                        "partition_key",
                        F.lit(None).cast("string").alias("clip_id"),
                        F.lit(r.detector).alias("detector"),
                        F.concat(F.lit("psi:"), _fmt(F.col("psi"), 4)).alias(
                            "observed"
                        ),
                        F.lit(
                            f"column:{colname} "
                            f"psi_threshold:{r.psi_threshold:g}"
                        ).alias("note"),
                    )
                )
            else:  # EntropyRule
                conds = []
                note_bits = [f"column:{colname}"]
                if r.min_entropy is not None:
                    conds.append(F.col("entropy") < F.lit(float(r.min_entropy)))
                    note_bits.append(f"min_entropy:{r.min_entropy:g}")
                if r.max_entropy is not None:
                    conds.append(F.col("entropy") > F.lit(float(r.max_entropy)))
                    note_bits.append(f"max_entropy:{r.max_entropy:g}")
                fused_parts.append(
                    scores.filter(reduce(lambda a, b: a | b, conds)).select(
                        "partition_key",
                        F.lit(None).cast("string").alias("clip_id"),
                        F.lit(r.detector).alias("detector"),
                        F.concat(
                            F.lit("entropy:"), _fmt(F.col("entropy"), 4)
                        ).alias("observed"),
                        F.lit(" ".join(note_bits)).alias("note"),
                    )
                )
            if r.detector not in detectors:
                detectors.append(r.detector)
            if r.detector not in partition_level:
                partition_level.append(r.detector)

    # ---- Benford first-digit conformity (one conditional-count groupBy) ---
    _BENFORD = [math.log10(1.0 + 1.0 / d) for d in range(1, 10)]
    for r in [x for x in rules if isinstance(x, BenfordRule)]:
        v = F.abs(F.col(r.column).cast("double"))
        # first significant digit via the string path: representation-
        # agnostic (plain and E-notation both), immune to the classic
        # log10(1000) = 2.999... floor bug a pow/log derivation has
        digit = F.substring(
            F.regexp_replace(v.cast("string"), "[^1-9]", ""), 1, 1
        )
        # finite positives only: NaN compares > 0 true in Spark and
        # ±Inf has no first digit — counting either as usable would
        # deflate every digit share and spuriously inflate the MAD
        usable = v.isNotNull() & (v > 0) & ~F.isnan(v) & (v < float("inf"))
        counts = [
            F.sum(
                F.when(usable & (digit == str(d)), F.lit(1)).otherwise(F.lit(0))
            ).alias(f"n{d}")
            for d in range(1, 10)
        ]
        per_part = df.groupBy(F.col(partition_col).alias("partition_key")).agg(
            *counts, F.sum(F.when(usable, 1).otherwise(0)).alias("n_used")
        )
        n = F.col("n_used").cast("double")
        # fixed left-to-right term order: one IEEE op sequence both the
        # engine and the SQL oracle replay identically
        mad = reduce(
            lambda a, b: a + b,
            [
                F.abs(F.col(f"n{d}") / n - F.lit(_BENFORD[d - 1]))
                for d in range(1, 10)
            ],
        ) / F.lit(9.0)
        fused_parts.append(
            per_part.filter(F.col("n_used") >= r.min_count)
            .withColumn("mad", mad)
            .filter(F.col("mad") > r.max_mad)
            .select(
                "partition_key",
                F.lit(None).cast("string").alias("clip_id"),
                F.lit(r.detector).alias("detector"),
                F.concat(F.lit("mad:"), _fmt(F.col("mad"), 4)).alias("observed"),
                F.lit(
                    f"column:{r.column} max_mad:{r.max_mad:g} "
                    f"min_count:{r.min_count}"
                ).alias("note"),
            )
        )
        if r.detector not in detectors:
            detectors.append(r.detector)
        if r.detector not in partition_level:
            partition_level.append(r.detector)

    # ---- reconciliation control totals (two tiny aggs + outer join) ------
    for r in [x for x in rules if isinstance(x, ReconciliationRule)]:
        if r.ref_table not in refs:
            raise ValueError(
                f"ReconciliationRule({r.column}): unknown ref table "
                f"{r.ref_table!r} — pass it via refs="
            )
        ref = refs[r.ref_table]
        if partition_col not in ref.columns:
            raise ValueError(
                f"ReconciliationRule({r.column}): ref table {r.ref_table!r} "
                f"must carry the run partition column {partition_col!r}"
            )
        rc = r.ref_column or r.column
        if r.agg == "count":
            a_expr = F.count(F.col(r.column)).cast("double")
            e_expr = F.count(F.col(rc)).cast("double")
        else:  # sum — exact decimal partials, order-independent verdict
            a_expr = F.sum(F.col(r.column).cast("decimal(38,6)")).cast("double")
            e_expr = F.sum(F.col(rc).cast("decimal(38,6)")).cast("double")
        # full-outer semantics WITHOUT a join: tag each side's tiny
        # per-partition aggregate and re-aggregate the union — a side
        # absent from a partition contributes its 0, exactly the
        # COALESCE(full_outer) contract, with one groupBy and zero join
        # nodes (a full-outer can't broadcast, so the join form would
        # plan an SMJ — needless even on operator-sized frames)
        actual = (
            df.groupBy(F.col(partition_col).alias("partition_key"))
            .agg(a_expr.alias("actual"))
            .select(
                "partition_key", "actual", F.lit(0.0).alias("expected")
            )
        )
        expected = (
            ref.groupBy(F.col(partition_col).alias("partition_key"))
            .agg(e_expr.alias("expected"))
            .select(
                "partition_key", F.lit(0.0).alias("actual"), "expected"
            )
        )
        joined = (
            actual.unionByName(expected)
            .groupBy("partition_key")
            .agg(
                F.sum("actual").alias("actual"),
                F.sum("expected").alias("expected"),
            )
        )
        tol = F.lit(float(r.abs_tolerance)) + F.lit(
            float(r.rel_tolerance)
        ) * F.abs(F.col("expected"))
        fused_parts.append(
            joined.filter(F.abs(F.col("actual") - F.col("expected")) > tol)
            .select(
                "partition_key",
                F.lit(None).cast("string").alias("clip_id"),
                F.lit(r.detector).alias("detector"),
                F.concat(
                    F.lit(f"{r.agg}:"),
                    _fmt(F.col("actual"), 2),
                    F.lit("| expected:"),
                    _fmt(F.col("expected"), 2),
                ).alias("observed"),
                F.lit(
                    f"column:{r.column} ref:{r.ref_table}.{rc} "
                    f"abs_tol:{r.abs_tolerance:g} rel_tol:{r.rel_tolerance:g}"
                ).alias("note"),
            )
        )
        if r.detector not in detectors:
            detectors.append(r.detector)
        if r.detector not in partition_level:
            partition_level.append(r.detector)

    # the per-partition row counts of the stats pass serve both the
    # VolumeRule fences and the plan's rows_checked output
    counts_frame = part_stats.select(
        F.col(partition_col).alias("partition_key"),
        F.col("__rows").alias("rows_checked"),
    )

    # ---- volume fences over the shared per-partition count frame ----------
    vol_rules = [x for x in rules if isinstance(x, VolumeRule)]
    if vol_rules:
        vol_counts = counts_frame.select(
            "partition_key", F.col("rows_checked").alias("n")
        )
        needs_median = any(r.max_factor is not None for r in vol_rules)
        if needs_median:
            med = vol_counts.agg(
                F.expr("percentile(n, 0.5D)").alias("median_n")
            )
            vol_counts = vol_counts.crossJoin(F.broadcast(med))
        for r in vol_rules:
            conds = []
            note_bits = []
            if r.min_rows is not None:
                conds.append(F.col("n") < F.lit(int(r.min_rows)))
                note_bits.append(f"min_rows:{r.min_rows}")
            if r.max_rows is not None:
                conds.append(F.col("n") > F.lit(int(r.max_rows)))
                note_bits.append(f"max_rows:{r.max_rows}")
            if r.max_factor is not None:
                f_ = F.lit(float(r.max_factor))
                conds.append(
                    (F.col("n") < F.col("median_n") / f_)
                    | (F.col("n") > F.col("median_n") * f_)
                )
                note_bits.append(f"max_factor:{r.max_factor:g}")
            fused_parts.append(
                vol_counts.filter(reduce(lambda a, b: a | b, conds)).select(
                    "partition_key",
                    F.lit(None).cast("string").alias("clip_id"),
                    F.lit(r.detector).alias("detector"),
                    F.concat(F.lit("rows:"), F.col("n").cast("string")).alias(
                        "observed"
                    ),
                    F.lit(" ".join(note_bits)).alias("note"),
                )
            )
            if r.detector not in detectors:
                detectors.append(r.detector)
            if r.detector not in partition_level:
                partition_level.append(r.detector)

    violations = reduce(DataFrame.unionByName, fused_parts) if fused_parts else None
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
    # de-dup detector list, preserving order
    seen: set[str] = set()
    det = [d for d in detectors if not (d in seen or seen.add(d))]
    return CompiledPlan(
        violations=violations,
        rows_checked=rows_checked,
        detectors=det,
        partition_level=partition_level,
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


def _partition_stats(
    df: DataFrame,
    rules: list,
    *,
    key_col: str,
    partition_col: str,
    seq_col: str | None,
    frontier: int | None,
    drift_bounds: dict | None,
) -> tuple[DataFrame, dict]:
    """The per-partition aggregates of the rule set in ONE collected
    ``df.groupBy(partition_col).agg(...)``.

    Returns ``(stats, drift)``. ``stats`` holds one row per
    partition, planned as a LocalRelation (no rescan when joined or
    filtered later): ``__rows`` (rows_checked, VolumeRule), each IqrRule's
    ``__q1_{col}``/``__q3_{col}``, and, for a GapRule with a frontier,
    ``__last_seq``/``__last_key`` (latest seq and the key at it).
    ``drift`` maps each DriftRule's (column, bins) to its
    (partition_key, psi, ks, w1) frame, scored on the driver
    (functions/stats.score_drift) from a dense per-bin count array the
    same pass collects.

    Reads ``df``, the pre-payload frame: the payload Arrow pass is a
    column-pruning barrier, so an aggregate hanging off the decoded frame
    would re-decode every payload to read one numeric column. Drift bin
    edges come from ``drift_bounds`` or from one min/max collect over the
    uncovered columns (the only other eager job).
    """
    from ..functions.stats import (
        drift_bin_edges,
        drift_frame,
        drift_histogram,
        score_drift,
    )

    aggs = [F.count(F.lit(1)).alias("__rows")]
    for r in rules:
        if isinstance(r, IqrRule):
            if r.exact:
                # quantileExact ≙ tinybird/pipes/iqr.pipe:31-33 (test scale)
                q1 = F.expr(f"percentile({r.column}, 0.25D)")
                q3 = F.expr(f"percentile({r.column}, 0.75D)")
            else:
                # approx at 10^12 scale (north star; SURVEY.md §4.2.5)
                q1 = F.percentile_approx(r.column, 0.25, r.accuracy)
                q3 = F.percentile_approx(r.column, 0.75, r.accuracy)
            aggs += [q1.alias(f"__q1_{r.column}"), q3.alias(f"__q3_{r.column}")]
    if frontier is not None and any(isinstance(r, GapRule) for r in rules):
        aggs += [
            F.max(seq_col).alias("__last_seq"),
            F.max_by(F.col(key_col), F.col(seq_col)).alias("__last_key"),
        ]

    drift = list(
        dict.fromkeys((r.column, r.bins) for r in rules if isinstance(r, DriftRule))
    )
    bounds = dict(drift_bounds or {})
    missing = list(dict.fromkeys(c for c, _ in drift if c not in bounds))
    if missing:
        # ONE driver agg fixes bin edges for every UNCOVERED drift column;
        # columns served by drift_bounds (profile state / column stats)
        # skip it entirely
        row = df.agg(
            *[
                a
                for c in missing
                for a in (F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}"))
            ]
        ).collect()[0]
        for c in missing:
            bounds[c] = (row[f"__lo_{c}"], row[f"__hi_{c}"])
    grids = {}
    for i, (c, bins) in enumerate(drift):
        if bounds[c][0] is not None:  # an all-NULL column scores nothing
            lo, width = drift_bin_edges(bounds[c], bins)
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
    return stats, scores


def _drift_violations(scores: DataFrame, r: DriftRule) -> DataFrame:
    """A DriftRule's violation rows from its (partition_key, psi, ks, w1)
    scores: the rule thresholds and the formatted notes stay Spark
    projections, because Spark's double→string cast (E-notation below
    1e-3) is the note contract the oracles check."""
    cond = (F.col("psi") > r.psi_threshold) | (F.col("ks") > r.ks_threshold)
    observed = F.concat(
        F.lit("psi:"), _fmt(F.col("psi"), 4), F.lit("|ks:"), _fmt(F.col("ks"), 4)
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
        note = note + f" w1_threshold:{r.w1_threshold:g}"
    return scores.filter(cond).select(
        "partition_key",
        F.lit(None).cast("string").alias("clip_id"),
        F.lit(r.detector).alias("detector"),
        observed.alias("observed"),
        F.lit(note).alias("note"),
    )
