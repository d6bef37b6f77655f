"""The flagship plan: full validation of the audio-clip table.

Assembles the BASELINE.json north-star rule set — the reference's five
detectors transposed to clips, plus the graft's profiling / uniqueness /
referential / drift / audio / transcript checks — and runs them through
the fused compiler in (at most) one scan + one window shuffle + two tiny
aggregations.

Reference thresholds carried over:
- out-of-range [200, 2000] ≙ copy_out_of_range.pipe:24-25 (min 200 max 2000)
- max_slope 3               ≙ copy_rate_of_change.pipe:24
- z-score threshold 2       ≙ copy_z_score.pipe:20  (_zscore_multipler)
- IQR multiplier 1.5        ≙ copy_iqr.pipe:41      (_iqr_multipler)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.engine import RunResult, ValidationEngine
from ..operators.rules import (
    AudioDecodeRule,
    DriftRule,
    GapRule,
    IqrRule,
    NotNullRule,
    ProfileSpec,
    RangeRule,
    RateOfChangeRule,
    RefIntegrityRule,
    TranscriptRule,
    UniqueRule,
    ValueSetRule,
    ZScoreRule,
)
from ..operators.schema import with_partition_cols
from ..sources.synth import SynthSpec, frontier_of, generate_clips, generate_manifest


def default_rules(*, with_audio: bool = True, seed: int = 42) -> list:
    rules: list = [
        RangeRule("dur_ms", 200, 2000),
        NotNullRule("transcript", treat_empty_as_null=True),
        ValueSetRule("sr_hz", allowed=(8000, 16000)),
        ValueSetRule("codec", allowed=("pcm16", "mulaw")),
        RateOfChangeRule("dur_ms", max_slope=3.0),
        GapRule(max_staleness=5, max_gap=1),
        ZScoreRule("dur_ms", threshold=2.0, window=50, min_periods=10),
        IqrRule("dur_ms", multiplier=1.5),
        UniqueRule(columns=("clip_id",)),
        RefIntegrityRule("clip_id", ref_table="clip_manifest", ref_column="clip_id"),
        TranscriptRule(),
        DriftRule("dur_ms", bins=20, detector="drift-dur_ms"),
        DriftRule("sr_hz", bins=20, detector="drift-sr_hz"),
        # a grid fixed across runs (merge contract): 2x the RangeRule
        # bound, so out-of-range clips land in real bins; ≤ 100 ms error
        ProfileSpec(
            numeric_columns=("dur_ms", "sr_hz"),
            distinct_columns=("codec", "clip_id"),
            histogram_columns=(("dur_ms", 0.0, 4000.0, 40),),
        ),
    ]
    if with_audio:
        rules.insert(4, AudioDecodeRule(min_snr_db=30.0, ref_seed=seed))
    return rules


def validate_table(
    df: DataFrame,
    rules: list,
    *,
    frontier: int,
    key_col: str = "clip_id",
    manifest: DataFrame | None = None,
    skip_partitions: DataFrame | None = None,
    run_id: str | None = None,
    persist: bool = False,
    window_chunk_size: int | None = None,
    fail_threshold: float = 0.0,
    max_violations_per_group: int | None = None,
    exclusion_windows: DataFrame | None = None,
    extra_refs: dict[str, DataFrame] | None = None,
    warn_detectors: tuple | list | None = None,
) -> RunResult:
    """Run a rule set over ANY modality table (clips, images, videos —
    the engine is key-agnostic; §2.10's multimodal mandate).

    ``key_col`` names the table's row key; ``partition_key`` and ``seq``
    are taken from the table when present, else derived from the key via
    the id contract (with_partition_cols — c{part}-{seq}). ``manifest``
    (optional) binds as the ``clip_manifest`` logical ref table, gaining
    a derived partition_key the same way when it lacks one
    (CompletenessRule needs the manifest to carry the verdict axis —
    missing keys land in the MANIFEST's partition; a manifest with a
    different id scheme must supply partition_key explicitly).

    ``extra_refs`` — additional logical-name → DataFrame bindings for
    rules that reference other tables (e.g. a CalibratedRangeRule's
    revisions table, a ReconciliationRule's control-total source).
    """
    engine = ValidationEngine(
        key_col=key_col, partition_col="partition_key", seq_col="seq"
    )
    refs = dict(extra_refs or {})
    if manifest is not None:
        if "partition_key" not in manifest.columns:
            ref_key = "clip_id" if "clip_id" in manifest.columns else key_col
            manifest = manifest.withColumn(
                "partition_key", F.substring(ref_key, 1, 4)
            )
        refs.setdefault("clip_manifest", manifest)
    return engine.run(
        with_partition_cols(df, key_col=key_col),
        rules,
        frontier=frontier,
        refs=refs,
        skip_partitions=skip_partitions,
        run_id=run_id,
        persist=persist,
        window_chunk_size=window_chunk_size,
        fail_threshold=fail_threshold,
        max_violations_per_group=max_violations_per_group,
        exclusion_windows=exclusion_windows,
        warn_detectors=warn_detectors,
    )


def validate_clips(
    clips: DataFrame,
    manifest: DataFrame,
    *,
    frontier: int,
    rules: list | None = None,
    **kwargs,
) -> RunResult:
    """Run the full rule set over a clip table (any source) — the
    clip-keyed specialization of :func:`validate_table`."""
    return validate_table(
        clips,
        rules if rules is not None else default_rules(),
        frontier=frontier,
        key_col="clip_id",
        manifest=manifest,
        **kwargs,
    )


def validate_synthetic(
    spark: SparkSession,
    spec: SynthSpec = SynthSpec(),
    *,
    with_audio: bool = True,
    skip_partitions: DataFrame | None = None,
) -> RunResult:
    """Synthesize the deterministic clip fixture and validate it."""
    clips = generate_clips(spark, spec)
    manifest = generate_manifest(spark, spec)
    return validate_clips(
        clips,
        manifest,
        frontier=frontier_of(spec),
        rules=default_rules(with_audio=with_audio, seed=spec.seed),
        skip_partitions=skip_partitions,
    )
