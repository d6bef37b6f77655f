"""Declarative constraint-rule IR.

Each rule is a frozen dataclass naming WHAT to check; the compiler
(operators/compiler.py) decides HOW — which Spark primitive evaluates it
and how rules fuse into shared scans/shuffles.

Detector names and note formats deliberately mirror the reference's
``anomaly_type`` values and ``note`` strings
(reference: tinybird/datasources/copy_log.datasource:7-8,
content/copies-pipes.md:54-63) so a consumer of the reference's
violations log can read ours unchanged. Template-parameter validation
(the reference's ``{{ error(...) }}``, e.g.
tinybird/pipes/out_of_range.pipe:28) becomes constructor validation here.
"""

from __future__ import annotations

from dataclasses import dataclass, field


class Rule:
    """Marker base class; rules are plain data, evaluated by the compiler."""

    detector: str


# --------------------------------------------------------------------------
# Row-local rules — fusable into a single scan (no shuffle).
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class RangeRule(Rule):
    """value < min OR value > max → violation.

    ≙ reference out-of-range detector
    (tinybird/pipes/out_of_range.pipe:21, copy_out_of_range.pipe:32).
    Either bound may be None (reference makes each optional and errors if
    both missing — out_of_range.pipe:19-29).
    """

    column: str
    min_value: float | None = None
    max_value: float | None = None
    detector: str = "out-of-range"

    def __post_init__(self) -> None:
        if self.min_value is None and self.max_value is None:
            # ≙ {{ error('You need to define at least one of ...') }}
            raise ValueError(
                f"RangeRule({self.column}): need at least one of min_value/max_value"
            )


@dataclass(frozen=True)
class CalibratedRangeRule(Rule):
    """value outside the calibration revision's [lo, hi] in effect at the
    row's sequence position → violation.

    Time-varying bounds: :class:`RangeRule` freezes one bound for the
    whole corpus, but a recalibrated sensor / re-tuned encoder changes
    the legitimate range mid-stream — the reference's operators re-deploy
    their pipes with new template parameters for exactly this
    (tinybird/pipes/out_of_range.pipe:19-29 makes the bounds parameters;
    copy_out_of_range.pipe:24-25 pins a revision). This rule makes the
    revision history itself data: a small operator-declared revisions
    table ``(partition_key, eff_seq, lo, hi)`` where a row takes effect
    FROM ``eff_seq`` (inclusive) within its partition, superseding
    earlier revisions — and every clip is validated against the revision
    in effect at its own seq (as-of semantics, the batch analog of
    operators/joins.asof_join).

    Compiled to one sorted revision array per partition, broadcast-joined
    1:1 onto the fact row and resolved by a row-local higher-order
    ``filter``+``element_at`` pick — the fact table never shuffles, never
    fans out, and the check fuses into the single validation scan like
    every other row-local rule.

    Rows BEFORE any revision (no bounds in effect yet) are skipped by
    default; ``require_revision=True`` flags them instead (an
    uncalibrated row is itself the defect). NULL values are never
    flagged (NotNullRule owns null policy).
    """

    column: str
    revisions_table: str = "calibration_revisions"
    eff_seq_column: str = "eff_seq"
    lo_column: str = "lo"
    hi_column: str = "hi"
    require_revision: bool = False
    detector: str = ""  # defaults to calibrated-range-<column>

    def __post_init__(self) -> None:
        if not self.detector:
            object.__setattr__(
                self, "detector", f"calibrated-range-{self.column}"
            )


@dataclass(frozen=True)
class NotNullRule(Rule):
    """NULL (or empty-string, if `treat_empty_as_null`) value → violation."""

    column: str
    treat_empty_as_null: bool = False
    detector: str = "not-null"


@dataclass(frozen=True)
class ValueSetRule(Rule):
    """Value outside an allowed set → violation (schema/domain check)."""

    column: str
    allowed: tuple = ()
    detector: str = ""  # defaults to value-set-<column>

    def __post_init__(self) -> None:
        if not self.allowed:
            raise ValueError(f"ValueSetRule({self.column}): empty allowed set")
        if not self.detector:
            object.__setattr__(self, "detector", f"value-set-{self.column}")


# --------------------------------------------------------------------------
# Sequence rules — need one Window.partitionBy(part).orderBy(seq) pass.
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class PatternRule(Rule):
    """Value fails a regex domain check → violation (schema/format
    family, alongside ValueSetRule: set membership for small domains,
    pattern membership for structured strings — ids, locale tags,
    transcript charsets). NULLs are never violations here (NotNullRule
    owns null policy). ``negate=True`` flips to "must NOT match" (a
    denylist — e.g. markup artifacts in transcripts). Patterns must stay
    RE2/Java-portable (no lookaround) so the DuckDB oracle runs them
    verbatim — the same portability contract as pii_scrub."""

    column: str
    pattern: str
    negate: bool = False
    detector: str = ""  # defaults to pattern-<column>

    def __post_init__(self) -> None:
        if not self.pattern:
            # ≙ {{ error(...) }} on a meaningless configuration
            raise ValueError(f"PatternRule({self.column}): empty pattern")
        if not self.detector:
            object.__setattr__(self, "detector", f"pattern-{self.column}")


@dataclass(frozen=True)
class RateOfChangeRule(Rule):
    """|Δvalue / Δseq| > max_slope → violation.

    ≙ reference rate-of-change detector: lagInFrame over
    (PARTITION BY id ORDER BY timestamp), slope = value_diff/time_diff,
    WHERE ABS(slope) > max_slope
    (tinybird/pipes/rate_of_change.pipe:31-34,59).
    First row per partition: Spark lag yields NULL (not ClickHouse's
    default-fill) so the row simply drops out of the filter — same
    verdict set, documented in SURVEY.md §2.8.5.
    """

    column: str
    max_slope: float = 3.0
    detector: str = "rate-of-change"


@dataclass(frozen=True)
class GapRule(Rule):
    """Sequence gaps and stale partitions.

    ≙ reference timeout detector — "latest report older than allowed"
    (tinybird/pipes/timeout.pipe:15-40) — transposed to the clip_id
    sequence axis (input shape has no timestamp, SURVEY.md §7.3):
    a partition whose max(seq) lags the run frontier by more than
    `max_staleness` is stale; additionally any intra-sequence hole
    (seq - lag(seq) > max_gap) is a gap violation.
    """

    max_staleness: int = 0
    max_gap: int = 1
    detector: str = "timeout"


@dataclass(frozen=True)
class MonotonicRule(Rule):
    """Ordering contract: `column` must be monotone along the sequence
    axis within each partition — a delivery/ordering check no value
    fence can express (a feed that replays an old batch keeps every
    value in range while violating the contract).

    The reference leans on this contract implicitly everywhere: its
    lagInFrame detectors (tinybird/pipes/rate_of_change.pipe:31-34) and
    latest-per-key endpoints (timeout.pipe:15-40) are only meaningful
    because `timestamp` advances within each sensor's stream. This rule
    makes the assumption checkable.

    Rides the SAME (partition, seq) window shuffle as the other
    sequence rules (one lag column — zero extra exchanges). A row
    violates when its value moves against `direction` relative to the
    previous row (`strict=True` additionally forbids ties — on the seq
    axis itself that flags duplicate sequence positions). First row per
    partition has no predecessor and never flags; NULL values never
    flag (NotNullRule owns null policy).
    """

    column: str
    direction: str = "increasing"  # or "decreasing"
    strict: bool = False
    detector: str = ""  # defaults to monotonic-<column>

    def __post_init__(self) -> None:
        if self.direction not in ("increasing", "decreasing"):
            # ≙ {{ error(...) }} on an invalid parameter value
            raise ValueError(
                f"MonotonicRule({self.column}): direction must be "
                f"'increasing' or 'decreasing', got {self.direction!r}"
            )
        if not self.detector:
            object.__setattr__(self, "detector", f"monotonic-{self.column}")


@dataclass(frozen=True)
class ZScoreRule(Rule):
    """|value - rolling_avg| / rolling_stddev_pop > threshold → violation.

    ≙ reference z-score detector (tinybird/pipes/z_score.pipe:14-54):
    avg + stddevPop over a stats window, z = (v-avg)/std, |z| > t.
    The reference uses a trailing wall-clock stats window; the graft's
    north star specifies sliding COUNT windows
    (Window.rowsBetween(-window, -1)) because ordering is carried by the
    clip_id sequence. stddev is population (divide by N), matching
    ClickHouse stddevPop (z_score.pipe:18) — NOT Spark's default sample
    stddev.
    """

    column: str
    threshold: float = 2.0
    window: int = 50  # trailing rows used for the rolling stats
    min_periods: int = 10  # below this the stats are too noisy to judge
    detector: str = "z-score"


@dataclass(frozen=True)
class SeasonalRule(Rule):
    """|value - phase_mean| / phase_stddev > threshold → violation, where
    the baseline is computed PER PHASE: phase = seq mod period.

    The periodic complement of ZScoreRule: a rolling window mixes all
    phases of a cyclic signal into one baseline, so a value that is
    normal at peak hour but appears off-peak sits comfortably inside
    the pooled band and never flags. Grouping the baseline by phase
    (hour-of-day, frame-of-cycle) makes exactly that defect visible.
    The reference's operators face this as false-positive tuning on
    periodic sensors — its z-score window is wall-clock wide for the
    same reason (tinybird/pipes/z_score.pipe:14-19); this rule makes
    the period a declared parameter instead of a tuning compromise.

    Compiles to ONE groupBy (partition, phase) of exact decimal
    sum/sumsq/count over the slim pre-audio frame (map-side combinable,
    ≤ partitions × period rows → always broadcast back). Population
    stddev, matching ZScoreRule; moments from explicit sums so the
    fence values are partial-agg-order independent and the DuckDB
    oracle reproduces them bit-for-bit. Phases with fewer than
    `min_count` rows or zero variance never flag.
    """

    column: str
    period: int = 24
    threshold: float = 3.0
    min_count: int = 8
    detector: str = ""  # defaults to seasonal-<column>

    def __post_init__(self) -> None:
        if not self.detector:
            # column-suffixed like monotonic-<col>/cat-drift-<col>/
            # entropy-<col>: two SeasonalRules on different columns must
            # yield distinguishable violation rows and distinct
            # plan.detectors entries
            object.__setattr__(self, "detector", f"seasonal-{self.column}")
        if self.period < 2:
            # ≙ {{ error(...) }}: period 1 is ZScoreRule's job
            raise ValueError(
                f"SeasonalRule({self.column}): period must be >= 2, "
                f"got {self.period}"
            )


@dataclass(frozen=True)
class PredicateRule(Rule):
    """Row must satisfy an arbitrary SQL boolean expression — the
    cross-column escape hatch (Deequ's ``satisfies``, Great
    Expectations' pair/conditional expectations): constraints like
    "mulaw implies 8 kHz" (``codec <> 'mulaw' OR sr_hz = 8000``) touch
    TWO columns at once, which no single-column rule can express.

    Rows where the predicate does not evaluate to TRUE are violations —
    a NULL (unknown) does not satisfy, mirroring SQL CHECK-constraint
    semantics; use explicit ``IS NULL`` branches in the expression when
    NULLs should pass (NotNullRule owns null policy for single columns).

    Row-local: compiles to one fused boolean column in the shared
    validation scan (no extra scan, no shuffle, JVM codegen — F.expr).
    Portability contract (same as PatternRule's RE2 rule): keep the
    expression in the ANSI subset both Spark and DuckDB parse, so the
    oracle runs it verbatim. The expression sees the validated table's
    own columns only.
    """

    expr: str
    detector: str = "predicate"

    def __post_init__(self) -> None:
        if not self.expr or not self.expr.strip():
            # ≙ {{ error(...) }} on a meaningless configuration
            raise ValueError("PredicateRule: empty expression")


@dataclass(frozen=True)
class CusumRule(Rule):
    """Sequential change-point detection (Page's CUSUM, Biometrika 1954):
    flag rows once the one-sided cumulative sum of deviations from
    ``target`` exceeds ``h``.

        S⁺_t = max(0, S⁺_{t-1} + (x_t − target − k))   (upward shift)
        S⁻_t = max(0, S⁻_{t-1} + (target − x_t − k))   (downward shift)

    The detector family the z-score/MAD/IQR fences can't express: a
    persistent SMALL shift (each observation well inside every
    per-row fence) accumulates in S and crosses ``h`` after enough
    evidence, while transient spikes decay away at ``k`` per step.
    This is the classic monitor for "the corpus quietly changed" —
    a new capture chain shipping +5% duration, a resampler drifting —
    long before the distribution moves enough for KS/PSI drift to see.

    Spark-first compilation: the recursion looks sequential, but has the
    closed form  S_t = P_t − min(0, min_{j≤t} P_j)  over the prefix sums
    P_t = Σ_{i≤t} (x_i − target − k), so it compiles to TWO window
    expressions (a running sum, then a running min of it) over the same
    (partition, seq) shuffle every other sequence rule shares — no
    per-row Python, no iteration. The sums run in DECIMAL(28,6), so for
    ≤6-decimal inputs/parameters they are exact and associative: the
    verdict set and every note digit are bit-identical across engines
    (the same determinism contract as AggregateRule's decimal moments).
    Ties on ``seq`` are broken by ``key_col`` for a total order.

    NULL values leave S unchanged (sum skips them) and are never flagged.
    With ``window_chunk_size`` set, the compiler evaluates the closed
    form via the two-level distributed prefix decomposition
    (operators/skew.chunked_cusum_cols — the functions/packing.py
    subtotal-rollup idiom, which splits both the running sum and the
    running min exactly at any chunk boundary), so a single partition
    too long for one task runs as rows/chunk_size parallel tasks.

    ``k`` (the allowance) should be ~half the shift you want to detect;
    ``h`` trades detection delay against false alarms (Page's ARL).
    """

    column: str
    target: float
    k: float = 0.0
    h: float = 5.0
    two_sided: bool = True
    detector: str = "cusum"

    def __post_init__(self) -> None:
        if self.h <= 0 or self.k < 0:
            # ≙ {{ error(...) }} on an impossible parameterization
            raise ValueError(
                f"CusumRule({self.column}): need h > 0 and k >= 0, "
                f"got h={self.h}, k={self.k}"
            )


@dataclass(frozen=True)
class EwmaRule(Rule):
    """EWMA control chart (Roberts, Technometrics 1959; NIST/SEMATECH
    §6.3.2.4): flag rows whose exponentially weighted moving average

        z_t = lam * x_t + (1 - lam) * z_{t-1},   z_{-1} = target

    leaves the band  target ± nsigma * sigma * sqrt(lam / (2 - lam))
    (the chart's asymptotic control limits).

    The detector family between the per-row fences and CUSUM: a spike
    must be LARGE to move z (transients are discounted at (1-lam) per
    step, so one wild value never pages), while a sustained shift walks
    z to target+shift within ~1/lam rows and holds it there — CUSUM
    answers "did a shift happen?" once and saturates; the EWMA chart
    keeps signalling for as long as the process stays shifted, which is
    what an operator watching a corpus intake wants on a dashboard.

    Spark-first compilation: the recursion has the closed form
    z_t = Σ_{k≥0} lam(1-lam)^k x_{t-k}; the geometric weights decay, so
    truncating at ``truncate`` terms bounds the error by
    (1-lam)^truncate * |x - target| — with the default lam=0.25, K=32
    that is < 1e-4 of the signal, far below the chart's own noise. The
    truncated form is a FIXED expression over ``truncate`` lag columns
    sharing one (partition, seq) window — the same exchange every other
    sequence rule rides — summed in a fixed left-to-right literal order,
    so any engine (the DuckDB oracle) reproduces every IEEE double
    bit-for-bit. Rows before the partition head and NULL values
    contribute ``target`` (the chart's own z_{-1} convention): a NULL
    is "no evidence", never evidence of a shift, and is never flagged
    itself. Ties on seq are broken by key_col (total order, the CUSUM
    contract). With ``window_chunk_size`` the compiler evaluates the
    same expression via operators/skew.chunked_window_cols (chunk
    overlap = truncate rows), so a 10^12-row partition runs as
    parallel chunk tasks instead of one straggler.
    """

    column: str
    target: float
    sigma: float
    lam: float = 0.25
    nsigma: float = 3.0
    truncate: int = 32
    detector: str = "ewma"

    def __post_init__(self) -> None:
        if not (0.0 < self.lam <= 1.0):
            # ≙ {{ error(...) }} on an impossible parameterization
            raise ValueError(
                f"EwmaRule({self.column}): lam must be in (0, 1], got {self.lam}"
            )
        if self.sigma <= 0 or self.nsigma <= 0:
            raise ValueError(
                f"EwmaRule({self.column}): need sigma > 0 and nsigma > 0, "
                f"got sigma={self.sigma}, nsigma={self.nsigma}"
            )
        if self.truncate < 1:
            raise ValueError(
                f"EwmaRule({self.column}): truncate must be >= 1, "
                f"got {self.truncate}"
            )

    def weights(self) -> tuple[list[float], float]:
        """(per-lag coefficients lam*(1-lam)^k for k=0..truncate-1,
        tail constant (1-lam)^truncate * target). Computed by repeated
        multiplication so both engines see the IDENTICAL literals."""
        coeffs: list[float] = []
        w = 1.0
        for _ in range(self.truncate):
            coeffs.append(self.lam * w)
            w *= 1.0 - self.lam
        return coeffs, w * self.target

    def limit(self) -> float:
        """Asymptotic control-band half-width nsigma*sigma*sqrt(lam/(2-lam))."""
        return self.nsigma * self.sigma * (self.lam / (2.0 - self.lam)) ** 0.5


# --------------------------------------------------------------------------
# Aggregate rules — per-partition statistics then fence comparison.
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class IqrRule(Rule):
    """value outside [q1 - k*IQR, q3 + k*IQR] → violation.

    ≙ reference interquartile-range detector
    (tinybird/pipes/iqr.pipe:26-53): quantileExact(0.25/0.75) per key,
    IQR = (q3-q1)*multiplier, fences = quartile ∓ IQR. The reference uses
    exact quantiles on small windows; at 10^12-row scale we use
    approx_percentile (north star mandates approx-percentile-driven
    fences) with `accuracy`; tests assert parity with exact quantiles at
    test scale (SURVEY.md §4.2.5).
    """

    column: str
    multiplier: float = 1.5
    exact: bool = False
    accuracy: int = 10000
    detector: str = "interquartile-range"


@dataclass(frozen=True)
class MadRule(Rule):
    """Modified z-score via MAD outside ±threshold → violation.

    Graft addition: the robust sibling of ZScoreRule/IqrRule. Mean/stddev
    are themselves dragged by the outliers they're meant to expose — one
    wild sensor reading inflates stddev enough to hide the next three.
    The median/MAD pair has a 50% breakdown point, so the fence holds
    even when a large fraction of the partition is already corrupt (the
    realistic corpus-QC case: a mis-transcoded batch inside a partition).

    Fence: |0.6745 * (x - median) / MAD| > threshold, the Iglewicz &
    Hoaglin modified z-score (0.6745 ≈ Φ⁻¹(0.75) rescales MAD to σ under
    normality; their recommended threshold is 3.5). MAD == 0 (over half
    the partition identical) leaves the score undefined — such rows are
    not flagged (a constant column is DriftRule/AggregateRule territory).

    Like IqrRule: exact percentiles at test scale for cross-engine
    oracles, approx_percentile at 10^12 scale. MAD is doubly holistic
    (a median OF deviations FROM a median), so the stats side is two
    sequential single-column aggregations — still ~1 row per partition,
    always broadcast back.
    """

    column: str
    threshold: float = 3.5
    exact: bool = False
    accuracy: int = 10000
    detector: str = "robust-z"


# --------------------------------------------------------------------------
# Table-level rules.
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class UniqueRule(Rule):
    """Duplicate key values → one violation per duplicated key.

    Graft addition (north rule: uniqueness checks); the reference's
    closest analog is the dedup contract LIMIT 1 BY key
    (tinybird/pipes/dedup_log.pipe:4-6).

    ``scope`` — ``"partition"`` (default) flags keys duplicated WITHIN a
    partition (one aggregation, partition-co-located). ``"global"``
    also catches a key landing in two DIFFERENT partitions (a replayed
    delivery filed under a new date, a re-sharded clip): per-partition
    key counts roll up over a key-partitioned window, and every
    partition holding a globally-duplicated key gets a violation row —
    each involved partition's verdict fails, so either owner's re-run
    surfaces it. The key-grain frame the global pass shuffles is
    ≤ one row per (key, partition), never the corpus.
    """

    columns: tuple = ("clip_id",)
    detector: str = "unique"
    scope: str = "partition"

    def __post_init__(self) -> None:
        if isinstance(self.columns, str):
            # a bare string would splat into per-character groupBy keys
            object.__setattr__(self, "columns", (self.columns,))
        if self.scope not in ("partition", "global"):
            raise ValueError(
                f"UniqueRule: scope must be 'partition' or 'global', "
                f"got {self.scope!r}"
            )


@dataclass(frozen=True)
class FdRule(Rule):
    """Functional dependency: the determinant columns must determine the
    dependent column (A → B; Deequ/Metanome-style FD validation).

    Graft addition: the schema-contract check no single-column rule can
    express — "codec determines sample rate", "speaker_id determines
    locale". A violated FD is how silent pipeline splits surface: two
    capture chains writing the same codec at different rates, a
    re-shard that re-keyed half a speaker's clips. ValueSetRule can only
    pin B's global domain; the FD pins B's domain PER determinant value.

    ``scope`` — ``"global"`` (default) checks the dependency across the
    whole table: one determinant value mapping to >1 dependent value
    ANYWHERE violates, and every partition holding that determinant
    value gets a violation row carrying the global dependent count (so
    either owner's verdict fails — the UniqueRule scope=global
    contract). ``"partition"`` checks the dependency within each
    partition only (A → B given the partition; a per-day calibration
    may legitimately differ across days).

    Scale shape: the corpus aggregates once to the slim
    (partition, determinant, dependent) grain — partition-co-located,
    map-side combinable; global scope then rolls THAT frame up by
    determinant. The corpus never shuffles on the bare determinant.
    Violations are partition-level (clip_id carries the determinant
    value, not a clip): a broken dependency is one defect per
    partition regardless of row count, so the fail_threshold rate
    tolerance never silently disables it.
    """

    determinants: tuple = ("codec",)
    dependent: str = "sr_hz"
    detector: str = "functional-dependency"
    scope: str = "global"

    def __post_init__(self) -> None:
        if not self.determinants:
            raise ValueError("FdRule: need at least one determinant column")
        if self.dependent in self.determinants:
            raise ValueError(
                f"FdRule: dependent {self.dependent!r} cannot also be a "
                "determinant"
            )
        if self.scope not in ("partition", "global"):
            raise ValueError(
                f"FdRule: scope must be 'partition' or 'global', "
                f"got {self.scope!r}"
            )


@dataclass(frozen=True)
class RefIntegrityRule(Rule):
    """Keys absent from a reference (manifest) table → violations.

    Graft addition (north rule: referential checks). Compiled to a
    left-anti join against the manifest.
    """

    column: str
    ref_table: str  # logical name resolved by the engine run() call
    ref_column: str
    detector: str = "referential"


#: aggregates AggregateRule can fence. Exact-arithmetic aggregates only by
#: default — 'approx_distinct' (HLL) is allowed but its estimate is
#: engine-specific, so cross-engine oracles should fence 'distinct' instead.
AGGREGATE_FUNCS = (
    "avg",
    "min",
    "max",
    "sum",
    "count",
    "null_rate",
    "distinct",
    "approx_distinct",
    "stddev_pop",
)


@dataclass(frozen=True)
class AggregateRule(Rule):
    """A per-partition AGGREGATE outside [min_value, max_value] → one
    violation for the whole partition.

    Graft addition (north rule: column-stat profiling *as constraints* —
    null rate, min/max, approx-distinct bounds). Row-level rules can't
    express "this partition's null rate exceeds 5%" or "avg duration
    collapsed" — the defect is a property of the distribution, not of
    any single row. The closest reference analog is the stats CTE the
    IQR pipe computes per key (tinybird/pipes/iqr.pipe:26-37); this rule
    makes that stats layer directly fenceable.

    All AggregateRules in a run fuse into ONE groupBy(partition) pass
    (one shuffle of partial aggregates, ~1 output row per partition)
    regardless of how many bounds are declared. Violations are
    partition-level (clip_id NULL, exempt from the fail_threshold rate
    tolerance — a breached aggregate is one violation no matter how many
    rows produced it).
    """

    column: str
    agg: str = "avg"
    min_value: float | None = None
    max_value: float | None = None
    detector: str = ""  # defaults to agg-<agg>-<column>

    def __post_init__(self) -> None:
        if self.agg not in AGGREGATE_FUNCS:
            # ≙ reference {{ error(...) }} on a bad template parameter
            raise ValueError(
                f"AggregateRule({self.column}): agg must be one of "
                f"{AGGREGATE_FUNCS}, got {self.agg!r}"
            )
        if self.min_value is None and self.max_value is None:
            raise ValueError(
                f"AggregateRule({self.column}): need at least one of "
                "min_value/max_value"
            )
        if not self.detector:
            object.__setattr__(self, "detector", f"agg-{self.agg}-{self.column}")


@dataclass(frozen=True)
class CompletenessRule(Rule):
    """Manifest keys ABSENT from the validated table → violations.

    Graft addition: the inverse direction of RefIntegrityRule. The
    referential rule catches rows that shouldn't exist (corpus keys with
    no manifest entry); this rule catches rows that should exist but
    don't — which no row-level rule can flag, because the defective rows
    aren't there to scan. Compiled to a left-anti join from the manifest
    onto the table's keys; with both sides Iceberg-bucketed by the key
    this is a storage-partitioned join (no shuffle) at 10^12 scale.

    The manifest frame must carry the run's partition column (the
    verdict axis) so each missing key lands in its partition's verdict —
    including partitions with ZERO surviving corpus rows, which are
    added to the verdict grid with rows_checked=0 (a wholly-missing
    partition is exactly the failure this rule exists to surface; it
    must not silently vanish from the verdict set).
    """

    column: str = "clip_id"
    ref_table: str = "clip_manifest"
    ref_column: str = "clip_id"
    detector: str = "completeness"


@dataclass(frozen=True)
class DriftRule(Rule):
    """Per-partition distribution drift vs the global distribution.

    Graft addition (north rule: KS/PSI drift on dur_ms / sr_hz per
    partition). Compiled as binned histograms (two-level partial+final
    aggregation — SURVEY.md §4.2.6): per (partition, bucket) counts vs
    global bucket counts, then PSI = Σ (p-q)·ln(p/q) and
    KS = max |CDF_p - CDF_q| computed over the tiny histogram frame.
    A partition violates if psi > psi_threshold or ks > ks_threshold.

    ``w1_threshold`` (optional) adds the scale-aware third axis:
    Wasserstein-1 / earth-mover distance Σ |ΔCDF| · bin_width, in the
    COLUMN'S OWN UNITS. PSI and KS saturate once supports stop
    overlapping — a 30 ms shift and a 300 ms shift both score KS ≈ 1 —
    so they can gate but not rank; a W1 fence states the tolerance the
    way an operator thinks about it ("flag partitions whose duration
    distribution moved more than 50 ms"). Declared in value units, so
    it composes with the same fixed grid at any bin count.
    """

    column: str
    bins: int = 20
    psi_threshold: float = 0.25  # industry-standard "significant shift"
    ks_threshold: float = 0.2
    w1_threshold: float | None = None  # value-units earth-mover fence
    detector: str = "drift"


@dataclass(frozen=True)
class CategoricalDriftRule(Rule):
    """Per-partition drift of a CATEGORICAL column's value mix vs the
    consensus mix — PSI over category shares instead of histogram bins.

    DriftRule bins a numeric axis; a codec mix or an sr_hz mode mix has
    no meaningful bin order, so a partition that swaps pcm16 for mulaw
    deliveries (the mis-transcoding failure mode) needs its own score.
    Same robust-baseline construction as drift_scores: per-category
    Laplace-smoothed shares, baseline = per-category MEDIAN share across
    partitions renormalized (a global pooled mix would be contaminated
    by the very partitions under test).

    Compiles to one groupBy (partition, value) count over the slim
    pre-audio frame (≤ partitions × |domain| rows), shared with any
    EntropyRule on the same column. Partition-level violations (one per
    partition, exempt from the fail_threshold rate tolerance). NULLs
    are excluded (NotNullRule owns null policy).
    """

    column: str
    psi_threshold: float = 0.25
    smoothing: float = 0.5  # Laplace count added per category
    detector: str = ""  # defaults to cat-drift-<column>

    def __post_init__(self) -> None:
        if self.smoothing <= 0:
            # smoothing 0 would make ln(p/q) blow up on any category
            # absent from one side — ≙ {{ error(...) }}
            raise ValueError(
                f"CategoricalDriftRule({self.column}): smoothing must be "
                f"> 0, got {self.smoothing:g}"
            )
        if not self.detector:
            object.__setattr__(self, "detector", f"cat-drift-{self.column}")


@dataclass(frozen=True)
class EntropyRule(Rule):
    """Per-partition Shannon entropy (nats) of a categorical column must
    sit inside [min_entropy, max_entropy].

    The stuck-at / garbage detector for categorical columns (Deequ's
    Entropy analyzer): a partition whose codec column froze to one value
    (encoder wedged) collapses to H = 0 while every per-row domain check
    still passes; a partition whose column turned to noise (corrupted
    delivery) spikes toward ln(|domain|). Neither defect is visible to
    ValueSetRule or to any numeric fence.

    H = -Σ_v (n_v/N) · ln(n_v/N), zero-count categories contribute 0
    (no smoothing — entropy is a property of the observed mix).
    Shares the (partition, value) count frame with CategoricalDriftRule
    on the same column. Partition-level violations.
    """

    column: str
    min_entropy: float | None = None
    max_entropy: float | None = None
    detector: str = ""  # defaults to entropy-<column>

    def __post_init__(self) -> None:
        if self.min_entropy is None and self.max_entropy is None:
            # ≙ {{ error('You need to define at least one of ...') }}
            raise ValueError(
                f"EntropyRule({self.column}): need at least one of "
                "min_entropy/max_entropy"
            )
        if not self.detector:
            object.__setattr__(self, "detector", f"entropy-{self.column}")


@dataclass(frozen=True)
class BenfordRule(Rule):
    """Per-partition first-significant-digit distribution must conform
    to Benford's law within ``max_mad`` (Nigrini's MAD test).

    The fabricated/defaulted-data detector for wide-ranged positive
    measurements: organically-generated magnitudes (durations, sizes,
    amounts spanning orders of magnitude) follow P(d) = log10(1 + 1/d);
    a partition whose values were synthesized, clipped, or unit-mangled
    deviates. Score = mean absolute deviation of the nine observed
    digit shares from Benford's — Nigrini's published fences:
    ≤0.006 close, ≤0.012 acceptable, ≤0.015 marginal conformity.

    Compiles to ONE groupBy(partition) with nine conditional counts
    (digit = floor(|v| / 10^floor(log10 |v|)), NULLs and zeros
    excluded) — JVM-only, partial-aggregatable, no extra scan when
    fused. Partitions with fewer than ``min_count`` usable rows are
    skipped (digit shares over a handful of rows are noise, not
    evidence). Partition-level violations.
    """

    column: str
    max_mad: float = 0.015
    min_count: int = 100
    detector: str = ""  # defaults to benford-<column>

    def __post_init__(self) -> None:
        if self.max_mad <= 0:
            raise ValueError(
                f"BenfordRule({self.column}): max_mad must be > 0"
            )
        if not self.detector:
            object.__setattr__(self, "detector", f"benford-{self.column}")


@dataclass(frozen=True)
class VolumeRule(Rule):
    """Per-partition row count must sit inside absolute fences and/or a
    median-relative band.

    The delivery-anomaly detector: a partition that arrived truncated
    (half a day of clips missing) or doubled (a replayed backfill)
    passes every row-level and distribution check — the rows present
    are fine; it's the COUNT that is wrong. Absolute fences
    (min_rows/max_rows) state hard expectations; ``max_factor`` states
    the relative contract: count must be within [median/f, median·f] of
    the median partition count this run (the median is robust to the
    very partitions under test, same principle as the categorical
    drift consensus baseline).

    Compiles over the run's existing rows_checked frame (zero extra
    scans); the median is a percentile over the tiny per-partition
    count frame. Partition-level violations.
    """

    min_rows: int | None = None
    max_rows: int | None = None
    max_factor: float | None = None
    detector: str = "volume"

    def __post_init__(self) -> None:
        if (
            self.min_rows is None
            and self.max_rows is None
            and self.max_factor is None
        ):
            # ≙ {{ error('You need to define at least one of ...') }}
            raise ValueError(
                "VolumeRule: need at least one of min_rows/max_rows/max_factor"
            )
        if self.max_factor is not None and self.max_factor < 1.0:
            raise ValueError(
                f"VolumeRule: max_factor must be >= 1, got {self.max_factor:g}"
            )


@dataclass(frozen=True)
class ReconciliationRule(Rule):
    """Per-partition control total: agg(column) on the validated table
    must equal agg(ref_column) on the reference table within tolerance.

    The trailer-record check of file-based pipelines, generalized: the
    manifest (or any upstream system-of-record) states what each
    partition should total — row count, total duration, total bytes —
    and the validated table must reconcile. RefIntegrityRule and
    CompletenessRule compare key SETS; this rule compares AGGREGATES,
    which catches the defect neither set check can see: the right keys
    with the wrong magnitudes (a re-encode that shaved every clip's
    duration reconciles on keys and fails on sum(dur_ms)).

    ``agg``: 'sum' (exact decimal sums — order-independent, so the
    verdict is deterministic under any partial-aggregation schedule) or
    'count'. Violation when |actual - expected| > abs_tolerance +
    rel_tolerance·|expected|. The reference frame must carry the run's
    partition column; partitions present on only one side reconcile
    against 0 (a wholly-missing side is exactly the defect). Compiles
    to two tiny per-partition aggregates whose tagged UNION re-aggregates
    to one row per partition — full-outer-coalesce semantics with zero
    join nodes. Partition-level violations.
    """

    column: str = "clip_id"
    agg: str = "count"  # count | sum
    ref_table: str = "clip_manifest"
    ref_column: str | None = None  # defaults to column
    abs_tolerance: float = 0.0
    rel_tolerance: float = 0.0
    detector: str = ""  # defaults to reconcile-<column>

    def __post_init__(self) -> None:
        if self.agg not in ("count", "sum"):
            raise ValueError(
                f"ReconciliationRule({self.column}): agg must be 'count' "
                f"or 'sum', got {self.agg!r}"
            )
        if self.abs_tolerance < 0 or self.rel_tolerance < 0:
            raise ValueError(
                f"ReconciliationRule({self.column}): tolerances must be >= 0"
            )
        if not self.detector:
            object.__setattr__(self, "detector", f"reconcile-{self.column}")


# --------------------------------------------------------------------------
# Payload rules — Arrow pandas-UDF backed (the only non-JVM path).
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class AudioDecodeRule(Rule):
    """Decoded PCM must match the per-clip reference signal at SNR ≥ min_snr_db.

    Graft addition mandated by BASELINE.json input_hint: decode `bytes`
    by `codec` inside a vectorized Arrow pandas UDF (never per-row
    Python), reconstruct the deterministic reference waveform from
    (clip_id, seed), and check allclose via SNR ≥ 30 dB. Undecodable
    payloads (unknown codec, truncated bytes) are also violations.
    """

    bytes_column: str = "bytes"
    codec_column: str = "codec"
    sr_column: str = "sr_hz"
    dur_column: str = "dur_ms"
    min_snr_db: float = 30.0
    # seed of the deterministic per-clip reference signal (the synthetic
    # stand-in for a real deployment's golden copy; see sources/synth.py)
    ref_seed: int = 42
    detector: str = "audio-decode"


@dataclass(frozen=True)
class ImageDecodeRule(Rule):
    """Image payloads must decode (real PNG/BMP codecs —
    functions/multimodal.py png_decode/bmp_decode, stdlib zlib + numpy)
    and the decoded dimensions must match the declared width/height
    metadata columns when given.

    The image twin of AudioDecodeRule: same fused single-pass shape
    (with_image_checks, one zero-copy functions/payload.map_payloads
    pass; payload column dropped after the pass so everything downstream
    flows narrow rows), same
    violation taxonomy (undecodable payload OR decoded-vs-declared
    mismatch). Decode failures carry the decoder's stable error-message
    taxonomy in the note.
    """

    bytes_column: str = "payload"
    codec_column: str = "codec"
    # declared-metadata cross-checks; None disables the dimension check
    width_column: str | None = "width"
    height_column: str | None = "height"
    detector: str = "image-decode"


@dataclass(frozen=True)
class VideoDecodeRule(Rule):
    """Video payloads must demux (real AVI/RIFF container parser —
    functions/multimodal.avi_demux, uncompressed 24-bit DIB frames) and
    the demuxed dimensions / frame count must match the declared
    metadata columns when given.

    The video member of the fused payload-rule family (AudioDecodeRule,
    ImageDecodeRule): same single-pass shape (with_video_checks, one
    zero-copy map_payloads pass; payload column dropped after it), same
    violation taxonomy (undemuxable payload OR demuxed-vs-declared
    mismatch) with the demuxer's stable error-message taxonomy in the
    note.
    """

    bytes_column: str = "payload"
    codec_column: str = "codec"
    # declared-metadata cross-checks; None disables each check
    width_column: str | None = "width"
    height_column: str | None = "height"
    frames_column: str | None = "n_frames"
    detector: str = "video-decode"


@dataclass(frozen=True)
class AudioQcRule(Rule):
    """Decoded-signal QC fences: hard-clipping fraction, dead-air
    fraction, and RMS level bounds on the DECODED waveform.

    Graft addition: the audio sibling of RangeRule, but over properties
    that exist only after the codec — the clips it catches (a capture
    overdriven into clipping, a channel recorded at near-zero gain) are
    byte-valid, metadata-valid, and can even match their golden copy at
    high SNR (the defect was in the capture itself), so no metadata rule
    and not even the SNR rule can see them.

    Cost model: the metrics come from the SAME single map_payloads decode
    pass the AudioDecodeRule runs (with_audio_checks(qc=True)) — three
    extra vector ops per already-decoded clip, zero extra decodes, zero
    extra scans. Undecodable payloads yield NULL metrics and are never
    QC-flagged (they are the decode rule's violations).

    At least one bound must be declared. A breach of ANY declared bound
    flags the clip once (observed carries all three metrics).
    """

    max_clip_ratio: float | None = 0.05
    max_silence_ratio: float | None = 0.9
    min_rms: float | None = None
    max_rms: float | None = None
    bytes_column: str = "bytes"
    codec_column: str = "codec"
    sr_column: str = "sr_hz"
    dur_column: str = "dur_ms"
    detector: str = "audio-qc"

    def __post_init__(self) -> None:
        if (
            self.max_clip_ratio is None
            and self.max_silence_ratio is None
            and self.min_rms is None
            and self.max_rms is None
        ):
            # ≙ reference {{ error(...) }} on a bad template parameter
            raise ValueError("AudioQcRule: need at least one bound")
        for nm in ("max_clip_ratio", "max_silence_ratio"):
            v = getattr(self, nm)
            if v is not None and not 0.0 <= v <= 1.0:
                raise ValueError(f"AudioQcRule: {nm} must be in [0, 1], got {v}")


@dataclass(frozen=True)
class RefMatchRule(Rule):
    """A column must equal its manifest counterpart, per key — the
    generic cross-table consistency check (TranscriptRule is the
    transcript-specific instance with its own note idiom).

    Graft addition: catches metadata that silently diverged from the
    authoritative manifest (a mis-transcoded delivery whose `codec` no
    longer matches `expected_codec`, a resampled drop whose sr_hz
    disagrees) — rows that every single-table rule accepts because each
    side is individually valid. NULL-safe equality: NULL==NULL matches,
    NULL vs value flags. Keys absent from the manifest are skipped
    (RefIntegrityRule owns orphans).

    Fused into the SAME single manifest equi-join the referential and
    transcript rules share — adding RefMatchRules never adds a join.
    """

    column: str
    ref_table: str = "clip_manifest"
    ref_column: str = ""  # defaults to expected_<column>
    detector: str = ""  # defaults to ref-match-<column>

    def __post_init__(self) -> None:
        if not self.ref_column:
            object.__setattr__(self, "ref_column", f"expected_{self.column}")
        if not self.detector:
            object.__setattr__(self, "detector", f"ref-match-{self.column}")


@dataclass(frozen=True)
class TranscriptRule(Rule):
    """Transcript must equal the manifest's expected transcript.

    Graft addition (input_hint: transcript equality per row). Compiled as
    an equi-join to the manifest plus a fused row-local comparison.
    """

    column: str = "transcript"
    ref_table: str = "clip_manifest"
    ref_column: str = "expected_transcript"
    detector: str = "transcript"


@dataclass(frozen=True)
class TranscriptDistanceRule(TranscriptRule):
    """Transcript must be within ``max_distance`` character edits
    (Levenshtein) of the manifest's expected transcript.

    Tolerance variant of :class:`TranscriptRule` for ASR-style
    supervision, where a transcript one normalization pass away from the
    golden copy (casing, a dropped comma) is usable training data but a
    structurally different one is a mis-join. Compiled JVM-side
    (``levenshtein`` is a codegen'd Catalyst expression — no Python, no
    extra scan) and fused into the same single manifest join the exact
    rule uses. ``max_distance=0`` degenerates to exact equality with the
    same violation rows as TranscriptRule.

    Same null contract as the exact rule: a NULL observed transcript
    against a non-NULL expectation is a violation; rows absent from the
    manifest are RefIntegrityRule's job.
    """

    max_distance: int = 0
    detector: str = "transcript-distance"

    def __post_init__(self) -> None:
        if self.max_distance < 0:
            # ≙ {{ error(...) }} on an impossible bound configuration
            raise ValueError(
                f"TranscriptDistanceRule: max_distance must be >= 0, "
                f"got {self.max_distance}"
            )


@dataclass(frozen=True)
class PayloadSizeRule(Rule):
    """Declared-size consistency of the binary payload: the byte length
    of ``bytes`` must equal what (codec, sr_hz, dur_ms) implies —
    header + bytes_per_sample × round(sr·dur/1000) — else the clip is
    truncated, padded, or mislabeled.

    This is the JVM-only PRE-GATE in front of the Arrow decode rule: at
    100 TB, catching a truncated payload from parquet column metadata
    (octet length) costs a scan projection, while catching it in the
    decoder costs the full Arrow transfer + decode of every byte. It is
    row-local and fuses into the single validation scan.

    ``codec_sizes`` maps codec → (header_bytes, bytes_per_sample) as a
    tuple of triples (JSON-friendly). Codecs not listed are NOT evaluated
    here (ValueSetRule owns the codec domain), and NULL payloads are
    NotNullRule's job — mirroring PatternRule's null-ownership contract.
    """

    bytes_column: str = "bytes"
    codec_column: str = "codec"
    sr_column: str = "sr_hz"
    dur_column: str = "dur_ms"
    # (codec, header_bytes, bytes_per_sample): pcm16 = 44-byte canonical
    # RIFF/WAVE header + int16 samples; mulaw = raw G.711 bytes
    # (functions/audio.py:83-116)
    codec_sizes: tuple = (("pcm16", 44, 2), ("mulaw", 0, 1))
    detector: str = "payload-size"

    def __post_init__(self) -> None:
        if not self.codec_sizes:
            # ≙ {{ error(...) }}: a size rule with no codec table is a
            # configuration bug, not an empty check
            raise ValueError("PayloadSizeRule: codec_sizes must be non-empty")
        for entry in self.codec_sizes:
            if len(entry) != 3:
                raise ValueError(
                    f"PayloadSizeRule: codec_sizes entries are "
                    f"(codec, header_bytes, bytes_per_sample), got {entry!r}"
                )


@dataclass(frozen=True)
class SpeechRateRule(Rule):
    """Transcript↔audio duration consistency: characters-per-second
    outside [min_cps, max_cps] → violation.

    Graft addition in the reference's out-of-range idiom
    (tinybird/pipes/out_of_range.pipe:19-29: optional bounds, error()
    on an impossible configuration): a transcript far too long or short
    for its clip duration means the pairing is wrong — truncated audio,
    a mis-joined transcript, or a bad duration field — exactly the rows
    a training pipeline must quarantine before ASR-style supervision.
    Row-local (no shuffle), fused into the single validation scan.
    Rows with ``dur_col`` ≤ 0 are not evaluated (RangeRule owns those).
    """

    column: str = "transcript"
    dur_col: str = "dur_ms"
    min_cps: float = 12.0
    max_cps: float = 120.0
    detector: str = "speech-rate"

    def __post_init__(self) -> None:
        if self.min_cps < 0 or self.max_cps <= self.min_cps:
            # ≙ {{ error('...') }} on an impossible bound configuration
            raise ValueError(
                f"SpeechRateRule: need 0 <= min_cps < max_cps, "
                f"got [{self.min_cps}, {self.max_cps}]"
            )


# --------------------------------------------------------------------------
# Profiling — emits metrics, not violations.
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class ProfileSpec:
    """The mergeable per-partition profile state a ruleset maintains
    (functions/stats.profile_state): exact decimal moments of
    ``numeric_columns``, an HLL sketch per ``distinct_columns`` entry and
    a fixed-grid histogram per ``histogram_columns`` (column, lo, hi,
    bins) entry; grids must stay fixed across runs for states to merge.
    At most one per ruleset: compile_rules lowers it into the
    partition-stats pass and returns the rows as ``RunResult.profile``.
    """

    numeric_columns: tuple = ()
    distinct_columns: tuple = ()
    histogram_columns: tuple = ()

    def __post_init__(self) -> None:
        if any(len(h) != 4 or not h[1] < h[2] or h[3] < 1 for h in self.histogram_columns):
            raise ValueError("ProfileSpec: histogram_columns entries are (column, "
                             f"lo, hi > lo, bins >= 1), got {self.histogram_columns!r}")
