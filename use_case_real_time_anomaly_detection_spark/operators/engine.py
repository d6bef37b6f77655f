"""ValidationEngine — run a rule set, emit violations + per-partition verdicts.

Mirrors the reference's scheduled-copy lifecycle (SURVEY.md §3.2):
detector outputs → union into one log shape (≙ the five copy pipes all
targeting copy_log_duplicates — tinybird/pipes/copy_out_of_range.pipe:49-51)
→ composite-key dedup (≙ dedup_log's LIMIT 1 BY timestamp,id,anomaly_type —
tinybird/pipes/dedup_log.pipe:4-6) → idempotent append + lineage rows.

The difference: the reference runs five scans per cycle; we compile all
rules into one fused plan (operators/compiler.py) so a cycle is a single
pass over the data.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..session import local_frame
from .compiler import compile_rules

# Per-partition pass/fail contract (FIXTURES.md §4).
VERDICT_COLUMNS = [
    "partition_key",
    "detector",
    "pass",
    "violation_count",
    "rows_checked",
    "run_id",
    "completed_at_seq",
]


@dataclass
class RunResult:
    violations: DataFrame  # deduped, VIOLATION_COLUMNS
    verdicts: DataFrame  # VERDICT_COLUMNS
    profile: DataFrame | None  # the ProfileSpec's state rows, if declared
    run_id: str
    # detectors that emit O(1) rows per partition (compiled plan's
    # partition_level): exact verdicts, and never a quarantined clip
    partition_level: tuple = ()
    # the persisted frame when run(persist=True). With evidence capping,
    # `violations` is a DIFFERENT plan layered over this one, so
    # violations.unpersist() would uncache nothing — release through
    # unpersist() below, which always targets the cached plan.
    cached: DataFrame | None = None

    def unpersist(self) -> None:
        (self.cached if self.cached is not None else self.violations).unpersist()


class ValidationEngine:
    """Evaluate declarative rules over a partitioned table."""

    def __init__(
        self,
        *,
        key_col: str = "clip_id",
        partition_col: str = "partition_key",
        seq_col: str | None = None,
    ) -> None:
        self.key_col = key_col
        self.partition_col = partition_col
        self.seq_col = seq_col

    def run(
        self,
        df: DataFrame,
        rules: list,
        *,
        frontier: int | None = None,
        refs: dict[str, DataFrame] | None = None,
        skip_partitions: DataFrame | None = None,
        run_id: str | None = None,
        persist: bool = False,
        window_chunk_size: int | None = None,
        fail_threshold: float = 0.0,
        max_violations_per_group: int | None = None,
        exclusion_windows: DataFrame | None = None,
        warn_detectors: tuple | list | None = None,
    ) -> RunResult:
        """Compile + evaluate ``rules`` over ``df``. Compiling runs the
        partition-stats action (plus, with a DriftRule, the min/max
        collect that fixes its bin edges from ``df`` itself); the
        returned violations and verdicts stay lazy and trigger the scan
        on action. A ProfileSpec in ``rules`` rides the stats action,
        and its state rows come back as ``profile``.

        ``skip_partitions`` — one column ``partition_key`` of already-
        completed partitions (the resume path: anti-join, ≙ the
        reference's at-least-once overlap being made idempotent —
        SURVEY.md §2.8.4). ``frontier`` freezes "now" (SURVEY.md §4.3).

        ``fail_threshold`` — per-partition pass tolerance as a violation
        RATE: pass iff violation_count <= fail_threshold * rows_checked.
        The default 0.0 is the reference's exact semantics (any
        violation fails the partition); production corpora usually gate
        on a rate (e.g. 0.001 = tolerate 0.1% bad clips, quarantine
        them, still promote the partition). Violations are always all
        emitted — the threshold moves only the verdict.

        ``max_violations_per_group`` — cap the EMITTED evidence rows at n
        per (partition, detector), deterministically (first n clip_ids).
        At 10^12-clip scale a fully-drifted partition would otherwise
        materialize ~10^9 violation rows for one verdict the operator
        reads five of; verdict counts stay EXACT (aggregated from the
        uncapped frame before the cap), and the cap itself is skew-proof
        (two-phase ``capped_limit_by`` — a hot group never lands on one
        task). Default None emits everything, the reference's semantics.

        ``exclusion_windows`` — declared maintenance windows
        (partition_key, start_seq, end_seq), half-open on the seq axis:
        row-level violations raised inside a window are suppressed
        (excused, not counted — verdicts follow automatically), while
        rolling stats / fences / rows_checked still see every row and
        partition-level detectors (unique, drift, aggregate,
        completeness, timeout) are unaffected. The window set is
        operator-declared, so it broadcast-joins as one array row per
        partition — the fact table never shuffles for the exemption.

        ``warn_detectors`` — detector names demoted to WARN severity:
        violations are evaluated and emitted exactly as before (the
        evidence trail stays complete, violation_count stays exact),
        but the (partition, detector) verdict PASSES regardless of
        count — an advisory signal, not a promotion blocker (the
        Deequ/Great-Expectations warn-level contract). Overrides
        fail_threshold and partition-level exactness for the named
        detectors. A name matching no compiled detector raises — a
        misspelled demotion must not silently gate nothing.
        """
        if not 0.0 <= fail_threshold < 1.0:
            # ≙ {{ error(...) }}: an impossible tolerance is a config bug
            raise ValueError(
                f"fail_threshold must be in [0, 1), got {fail_threshold}"
            )
        if max_violations_per_group is not None and max_violations_per_group < 1:
            raise ValueError(
                "max_violations_per_group must be >= 1, got "
                f"{max_violations_per_group}"
            )
        run_id = run_id or uuid.uuid4().hex[:12]

        if skip_partitions is not None:
            # completed-partition list ≪ data; broadcast the anti-join so
            # the resume filter never shuffles the fact table
            df = df.join(
                F.broadcast(
                    skip_partitions.select(
                        F.col("partition_key").alias(self.partition_col)
                    )
                ),
                self.partition_col,
                "left_anti",
            )

        plan = compile_rules(
            df,
            rules,
            key_col=self.key_col,
            partition_col=self.partition_col,
            seq_col=self.seq_col,
            frontier=frontier,
            refs=refs,
            window_chunk_size=window_chunk_size,
            exclusion_windows=exclusion_windows,
        )

        # composite-key dedup ≙ dedup_log.pipe:4-6 (FIXTURES.md §3).
        # limit_by (row_number over a deterministic order), NOT
        # dropDuplicates: duplicate clips can carry DIFFERENT observed
        # values for the same (partition, clip, detector) — e.g. the two
        # copies of an injected duplicate see different rolling-z frames —
        # and dropDuplicates would keep an engine-/run-dependent one.
        from .limit_by import limit_by

        violations = limit_by(
            plan.violations,
            ["partition_key", "clip_id", "detector"],
            [F.col("observed"), F.col("note")],
            1,
        )
        if persist:
            # Verdicts aggregate the violations; without a persist the
            # second action re-runs the whole scan + audio-UDF DAG. The
            # violations frame is tiny (violating rows only), so this is
            # the at-scale pattern too (write violations, aggregate the
            # written table). Lazy — materialized by the first action.
            violations = violations.persist()
        cached = violations if persist else None

        if warn_detectors:
            unknown = sorted(set(warn_detectors) - set(plan.detectors))
            if unknown:
                # ≙ {{ error(...) }}: a demotion naming no active
                # detector is a config bug, not a no-op
                raise ValueError(
                    f"warn_detectors not produced by this rule set: "
                    f"{unknown} (active: {sorted(plan.detectors)})"
                )

        verdicts = self._verdicts(
            violations, plan.rows_checked, plan.detectors, run_id, frontier,
            fail_threshold, partition_level=plan.partition_level,
            warn_detectors=warn_detectors,
        )

        if max_violations_per_group is not None:
            # cap AFTER the verdict aggregation is bound to the uncapped
            # frame: counts are exact, evidence is bounded. With persist
            # the two consumers share one materialization.
            from .limit_by import capped_limit_by

            violations = capped_limit_by(
                violations,
                ["partition_key", "detector"],
                [F.col("clip_id")],
                max_violations_per_group,
            )

        return RunResult(
            violations=violations, verdicts=verdicts, profile=plan.profile,
            run_id=run_id, partition_level=tuple(plan.partition_level),
            cached=cached,
        )

    def _verdicts(
        self,
        violations: DataFrame,
        rows_checked: DataFrame,
        detectors: list,
        run_id: str,
        frontier: int | None,
        fail_threshold: float = 0.0,
        partition_level: list | None = None,
        warn_detectors: tuple | list | None = None,
    ) -> DataFrame:
        det = local_frame(
            violations.sparkSession,
            StructType([StructField("detector", StringType())]),
            [(d,) for d in detectors],
        )
        # partitions × detectors grid (detector side is tiny → broadcast),
        # so zero-violation (partition, detector) pairs still get pass=true.
        grid = rows_checked.crossJoin(F.broadcast(det))
        counts = violations.groupBy("partition_key", "detector").agg(
            F.count(F.lit(1)).alias("violation_count")
        )
        # Rate tolerance applies to ROW-LEVEL detectors only. Partition-
        # level detectors (staleness, drift) emit ~1 violation per bad
        # partition regardless of partition size, so at production row
        # counts any rate > 0 would silently disable them
        # (1 <= 0.001 * 10^6); they keep exact any-violation-fails
        # semantics — mirroring quarantine_split's partition_level list.
        tolerance = F.lit(fail_threshold) * F.col("rows_checked")
        if partition_level:
            tolerance = F.when(
                F.col("detector").isin(*partition_level), F.lit(0)
            ).otherwise(tolerance)
        passes = F.col("violation_count") <= tolerance
        if warn_detectors:
            # WARN severity: the verdict row keeps the exact count (an
            # operator reads count>0 with pass=true as "warn"), but never
            # blocks promotion
            passes = passes | F.col("detector").isin(*warn_detectors)
        # both sides are verdict-grid-sized (partitions × detectors);
        # broadcast the counts so no sort-merge join appears at scale
        return (
            grid.join(F.broadcast(counts), ["partition_key", "detector"], "left")
            .fillna(0, subset=["violation_count"])
            .select(
                "partition_key",
                "detector",
                # rate tolerance: <= threshold * rows passes (0.0 ==
                # the reference's exact any-violation-fails semantics)
                passes.alias("pass"),
                F.col("violation_count").cast("long"),
                F.col("rows_checked").cast("long"),
                F.lit(run_id).alias("run_id"),
                F.lit(frontier).cast("long").alias("completed_at_seq"),
            )
        )


def quarantine_split(
    df: DataFrame,
    result: RunResult,
    *,
    key_col: str = "clip_id",
    broadcast_keys: bool = True,
    warn_detectors: tuple | list = (),
) -> tuple[DataFrame, DataFrame]:
    """Route validated data: (clean, quarantine) from a validation run.

    The reference stops at the violations log (copy_log — its consumers
    triage by hand); a training-data pipeline additionally needs the
    corpus SPLIT so only verified rows flow downstream. Semantics:

    - ``quarantine`` — one row per clip individually implicated by a
      violation: (partition_key, clip_id, n_violations, detectors) with
      ``detectors`` the sorted comma-joined distinct detector names (a
      stable string, so the table is diffable and oracle-comparable).
    - ``clean`` — every input row whose key is NOT quarantined.

    Partition-level conditions do not indict individual clips, so they
    never quarantine rows: violations with a NULL clip_id (drift) are
    skipped, as are the run's ``result.partition_level`` detectors (a
    GapRule names the partition's LAST clip only as the reference's
    'time of last report' idiom — copy_timeout.pipe:39 — not as a bad
    row; an FdRule's clip_id is its joined determinant values). Uniqueness
    violations name the duplicated key, so ALL copies of a duplicated
    clip are quarantined (strict: triage decides which copy returns).
    ``warn_detectors`` (WARN severity, see ValidationEngine.run) are
    likewise skipped: an advisory violation must not remove a clip from
    the training corpus.

    Scale: the quarantine key set is violation-sized (≪ corpus in any
    healthy run), so the clean-side anti-join is broadcast by default —
    the corpus never shuffles. Set ``broadcast_keys=False`` for
    pathological runs where violations approach corpus size (the
    anti-join then shuffles both sides instead of OOMing the driver).
    """
    skip = result.partition_level + tuple(warn_detectors)
    clip_level = result.violations.filter(
        F.col("clip_id").isNotNull() & ~F.col("detector").isin(*skip)
    )
    quarantine = clip_level.groupBy("partition_key", "clip_id").agg(
        F.count(F.lit(1)).alias("n_violations"),
        F.array_join(F.array_sort(F.collect_set("detector")), ",").alias(
            "detectors"
        ),
    )
    keys = quarantine.select(F.col("clip_id").alias(key_col)).distinct()
    if broadcast_keys:
        keys = F.broadcast(keys)
    clean = df.join(keys, key_col, "left_anti")
    return clean, quarantine


def reindex_quarantine(
    quarantine: DataFrame, validated_partitions: DataFrame
) -> DataFrame:
    """Reindex a run's quarantine rows onto the FULL set of partitions the
    run validated, so dynamic partition overwrite also CLEARS partitions
    whose violations all cleared.

    Without this, a re-validated partition that produced zero quarantine
    rows is never touched by the overwrite (dynamic mode only replaces
    partitions present in the output), so stale quarantine rows persist
    indefinitely and permanently exclude now-clean clips from the derived
    clean corpus. Validated partitions with no quarantined clips emit one
    NULL-clip_id marker row — harmless to the clean-corpus anti-join
    (NULL keys never match) and filtered out by CheckpointStore.quarantine().

    ``validated_partitions``: one column ``partition_key`` (e.g. the
    distinct partitions of the run's verdicts) — slim, broadcast.
    """
    empty_parts = validated_partitions.select("partition_key").join(
        F.broadcast(quarantine.select("partition_key").distinct()),
        "partition_key",
        "left_anti",
    )
    markers = empty_parts.select(
        "partition_key",
        F.lit(None).cast("string").alias("clip_id"),
        F.lit(0).cast("long").alias("n_violations"),
        F.lit("").alias("detectors"),
    )
    return quarantine.unionByName(markers)


def verdict_diff(prev: DataFrame, cur: DataFrame) -> DataFrame:
    """Run-over-run regression report: per (partition, detector), how the
    verdict moved between two validation runs.

    The reference's operational loop is exactly this comparison done by a
    human watching the Grafana board (dashboard/anomaly-detection.json —
    per-detector anomaly panels refreshed per run); here it is a
    first-class relation so an orchestrator can gate promotion on
    "no new-failure rows". Statuses: ``new-failure`` (passed before,
    fails now — the promotion blocker), ``fixed``, ``still-failing``,
    ``still-passing``, plus ``added-passing``/``added-failing`` (pair
    present only in the current run — new partition or detector) and
    ``removed`` (present only in the previous run). ``delta`` is the
    violation-count movement, 0-coalesced on missing sides.

    Scale: verdict tables are (partitions x detectors) — slim by
    construction no matter the corpus size; the full-outer semantics are
    built from two broadcast joins (see inline note) so the diff plan
    has zero shuffles.
    """
    p = prev.select(
        "partition_key",
        "detector",
        F.col("pass").alias("__prev_pass"),
        F.col("violation_count").alias("prev_violations"),
    )
    c = cur.select(
        "partition_key",
        "detector",
        F.col("pass").alias("__cur_pass"),
        F.col("violation_count").alias("cur_violations"),
    )
    # full-outer as (left-outer ∪ right-anti): Spark's BroadcastHashJoin
    # does not support FullOuter, so a literal full_outer would compile
    # to a SortMergeJoin with two shuffles; both halves of this rewrite
    # broadcast the verdict-sized side instead, and the union is of two
    # disjoint row sets (matched-or-prev-only, cur-only) so no dedup is
    # needed.
    keys = ["partition_key", "detector"]
    matched_or_prev = p.join(F.broadcast(c), keys, "left_outer")
    cur_only = (
        c.join(F.broadcast(p.select(*keys)), keys, "left_anti")
        .withColumn("__prev_pass", F.lit(None).cast("boolean"))
        .withColumn("prev_violations", F.lit(None).cast("long"))
    )
    j = matched_or_prev.unionByName(cur_only)
    status = (
        F.when(
            F.col("__prev_pass").isNull(),
            F.when(F.col("__cur_pass"), F.lit("added-passing")).otherwise(
                F.lit("added-failing")
            ),
        )
        .when(F.col("__cur_pass").isNull(), F.lit("removed"))
        .when(F.col("__prev_pass") & ~F.col("__cur_pass"), F.lit("new-failure"))
        .when(~F.col("__prev_pass") & F.col("__cur_pass"), F.lit("fixed"))
        .when(~F.col("__prev_pass"), F.lit("still-failing"))
        .otherwise(F.lit("still-passing"))
    )
    return j.select(
        "partition_key",
        "detector",
        status.alias("status"),
        "prev_violations",
        "cur_violations",
        (
            F.coalesce(F.col("cur_violations"), F.lit(0))
            - F.coalesce(F.col("prev_violations"), F.lit(0))
        )
        .cast("long")
        .alias("delta"),
    )
