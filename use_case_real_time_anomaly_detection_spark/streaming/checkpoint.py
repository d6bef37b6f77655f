"""Lineage/metrics checkpoint — resumable validation runs.

North-rule requirement: "resumable from checkpoint with per-partition
lineage + metrics". The lineage table is the verdicts table itself
(FIXTURES.md §4: partition_key, detector, pass, violation_count,
rows_checked, run_id, completed_at_seq): a partition is *complete for a
frontier* when every detector has a verdict row at completed_at_seq ≥
frontier. Resume = anti-join the input's partitions against that set —
the same left-anti pattern as RefIntegrityRule.

This transposes the reference's at-least-once contract (copy pipes
re-scan an overlapping 61 s window every run; duplicates removed by the
dedup MV — copy_out_of_range.pipe:26, content/copies-pipes.md:44):
re-validating a partition here is idempotent because violations for a
(partition, run frontier) replace rather than accumulate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.tables import ParquetCatalog

LINEAGE_TABLE = "lineage"
VIOLATIONS_TABLE = "violations"
VIOLATIONS_STREAM_TABLE = "violations_stream"
PROFILE_TABLE = "profile_state"
PROFILE_STREAM_TABLE = "profile_stream"
DRIFT_STREAM_TABLE = "drift_stream"


class CheckpointStore:
    def __init__(self, catalog: ParquetCatalog) -> None:
        self.catalog = catalog

    # -- write side ---------------------------------------------------------

    def record_run(self, result, *, frontier: int) -> list:
        """Persist a BATCH run's outputs: violations (partition-overwritten
        → idempotent re-runs) + verdict/lineage rows (append-only history).
        Returns the verdict rows it appended (partitions × detectors
        rows, collected once), so callers summarize or route the run
        without re-reading lineage.

        A batch run validates each partition's FULL row set, so its per-pk
        snapshot is authoritative: any streaming-accumulated violation dirs
        for the partitions it validated are cleared (same supersession the
        runner applies to quarantine_stream) — otherwise violations()'s
        union would keep presenting stream-era evidence this full
        validation just recomputed or cleared."""
        from ..session import local_frame

        self.catalog.overwrite_partitions(
            result.violations.withColumn("pk", F.col("partition_key")),
            VIOLATIONS_TABLE,
            partition_by=["pk"],
        )
        # after the violations write: with a persisted run the verdict
        # counts read the cached violations, not the lazy plan
        rows = result.verdicts.collect()
        if self.catalog.exists(VIOLATIONS_STREAM_TABLE):
            self.catalog.drop_partitions(
                VIOLATIONS_STREAM_TABLE,
                "partition_key",
                list(dict.fromkeys(r["partition_key"] for r in rows)),
            )
        # one file per run, as the lazy verdict plan wrote (a local
        # relation would otherwise split into one task per core)
        verdicts = local_frame(
            result.verdicts.sparkSession, result.verdicts.schema, rows
        ).coalesce(1)
        self.catalog.append(verdicts, LINEAGE_TABLE)
        return rows

    def record_stream_run(self, result, *, batch_id: int, frontier: int) -> None:
        """Persist a MICRO-BATCH run's outputs. Violations land in the
        streaming accumulator keyed (partition_key, batch_id) — the same
        discipline as quarantine_stream/profile_stream: a batch validates
        only the rows it delivered, so a per-pk overwrite (record_run's
        batch-authoritative layout) would let every later batch wipe the
        partition's earlier violation evidence; per-(pk, batch) dirs
        accumulate across batches while an at-least-once REPLAY of a batch
        overwrites exactly its own rows. Verdict/lineage rows append as in
        batch mode (one verdict row per partition per cycle is the
        documented stream contract)."""
        self.catalog.overwrite_partitions(
            result.violations.withColumn("batch_id", F.lit(int(batch_id))),
            VIOLATIONS_STREAM_TABLE,
            partition_by=["partition_key", "batch_id"],
        )
        self.catalog.append(result.verdicts, LINEAGE_TABLE)

    def record_smoke(self, result) -> None:
        """Persist a SAMPLED (smoke) run's verdicts for inspection
        without granting them any authority: completed_at_seq is forced
        to -1 so completed_partitions() (which requires >= frontier)
        never counts them toward resume, and no other table is touched —
        a 1% pre-gate must not mark partitions validated, replace the
        full-evidence violations, or clear quarantine/profile state that
        full passes derived."""
        self.catalog.append(
            result.verdicts.withColumn(
                "completed_at_seq", F.lit(-1).cast("long")
            ),
            LINEAGE_TABLE,
        )

    def record_profile_batch(self, states: DataFrame, batch_id: int) -> None:
        """Accumulate a MICRO-BATCH's profile states, keyed
        (pk, batch_id): each batch profiles only the rows it delivered,
        so a partition's streamed state is the merge of all its batch
        rows (combine_profile_states at read time — the state table is
        O(partitions × batches), slim at any corpus size). The batch_id
        key makes at-least-once replay idempotent: a replayed batch
        overwrites exactly its own rows instead of double-counting into
        a merged value — the same discipline as quarantine_stream. The
        batch runner's record_profile (authoritative full-partition
        recompute) stays a separate table; the streamed view describes
        what the STREAM has delivered."""
        self.catalog.overwrite_partitions(
            states.withColumn("pk", F.col("partition_key")).withColumn(
                "batch_id", F.lit(int(batch_id))
            ),
            PROFILE_STREAM_TABLE,
            partition_by=["pk", "batch_id"],
        )

    def record_drift_batch(self, flags: DataFrame, batch_id: int) -> None:
        """Per-batch drift-gate flags keyed by batch_id (replay
        overwrites itself). A NULL-partition_key MARKER row is always
        included so a CLEAN batch still writes its batch_id leaf —
        otherwise max(batch_id) would point at the last batch that
        flagged anything and a stale flag would present as the current
        gate result after the drift cleared. Readers filter
        partition_key IS NOT NULL (runner --stream-drift does)."""
        marker = flags.sparkSession.range(1).select(
            *[
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in flags.schema.fields
            ]
        )
        self.catalog.overwrite_partitions(
            flags.unionByName(marker).withColumn(
                "batch_id", F.lit(int(batch_id))
            ),
            DRIFT_STREAM_TABLE,
            partition_by=["batch_id"],
        )

    def record_profile(self, states: DataFrame) -> None:
        """Persist per-partition MERGEABLE profile states
        (functions/stats.profile_state layout; the runner passes
        RunResult.profile): exact decimal moments + HLL binaries.
        Partition-overwritten like violations, so re-profiling a
        partition (or re-running one after a failure) is idempotent —
        the global profile then rolls up from this slim table alone
        (`merged_profile`), never rescanning validated partitions."""
        self.catalog.overwrite_partitions(
            states.withColumn("pk", F.col("partition_key")),
            PROFILE_TABLE,
            partition_by=["pk"],
        )

    # -- read side ----------------------------------------------------------

    def completed_partitions(self, frontier: int) -> DataFrame | None:
        """Partitions fully validated at a frontier ≥ the requested one.

        Only BATCH verdicts grant resume authority: a streaming cycle
        (run_id prefix ``stream-``, which the runner's --stream mode
        writes) validates only the slice of
        rows its micro-batch delivered — its partition stats (z-window,
        IQR fences, drift) are trailing-window snapshots, not
        full-partition facts — so counting those rows here would let a
        later batch resume skip a partition no full pass ever covered.
        Smoke runs are excluded the same way record_smoke arranged
        (completed_at_seq forced to -1)."""
        if not self.catalog.exists(LINEAGE_TABLE):
            return None
        lin = self.catalog.read(LINEAGE_TABLE).filter(
            ~F.col("run_id").startswith("stream-")
        )
        per_part = lin.filter(F.col("completed_at_seq") >= frontier).groupBy(
            "partition_key"
        ).agg(F.count_distinct("detector").alias("n_det"))
        total = lin.select("detector").distinct().count()
        return per_part.filter(F.col("n_det") >= total).select("partition_key")

    def violations(self) -> DataFrame:
        """Violation evidence across BOTH maintenance paths: the batch
        runner's authoritative per-partition snapshot unioned with the
        streaming accumulator (per-(partition, batch) dirs; batch_id
        dropped). A batch pass clears the stream dirs for the partitions
        it validates (record_run), so the union never double-represents a
        re-validated partition — mirroring quarantine()."""
        parts = []
        if self.catalog.has_data(VIOLATIONS_TABLE):
            parts.append(self.catalog.read(VIOLATIONS_TABLE).drop("pk"))
        if self.catalog.has_data(VIOLATIONS_STREAM_TABLE):
            parts.append(
                self.catalog.read(VIOLATIONS_STREAM_TABLE).drop("batch_id")
            )
        if not parts:
            raise FileNotFoundError("no violations table in this store")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def quarantine(self) -> DataFrame:
        """Quarantined-clip evidence across BOTH maintenance paths: the
        batch runner's authoritative per-partition snapshot (`quarantine`,
        NULL-clip_id marker rows from reindex_quarantine filtered out)
        unioned with the streaming accumulator (`quarantine_stream`,
        per-(partition, batch) dirs; batch_id dropped). The two are
        separate tables because their partition grains differ; a batch
        pass clears the stream dirs it supersedes (runner --quarantine),
        so the union never double-represents a re-validated partition."""
        parts = []
        if self.catalog.has_data("quarantine"):
            parts.append(
                self.catalog.read("quarantine").filter(
                    F.col("clip_id").isNotNull()
                )
            )
        if self.catalog.has_data("quarantine_stream"):
            parts.append(self.catalog.read("quarantine_stream").drop("batch_id"))
        if not parts:
            raise FileNotFoundError(
                "no quarantine table in this store (run with --quarantine)"
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def lineage(self) -> DataFrame:
        return self.catalog.read(LINEAGE_TABLE)

    def merged_profile(self) -> DataFrame:
        """Global long-format corpus profile rolled up from the stored
        per-partition states — O(partitions) input rows, zero corpus IO."""
        from ..functions.stats import merge_profile_states

        return merge_profile_states(self.catalog.read(PROFILE_TABLE).drop("pk"))

    def anomalies(
        self, *, threshold: float = 2.0, min_history: int = 3
    ) -> DataFrame:
        """Trend anomalies in the stored verdict history
        (operators/monitor.lineage_anomalies): each run's violation rate
        scored against its (partition, detector) series' prior runs —
        the meta-monitoring view over this store's append-only lineage.
        O(runs × partitions × detectors) input rows, zero corpus IO."""
        from ..operators.monitor import lineage_anomalies

        return lineage_anomalies(
            self.lineage(), threshold=threshold, min_history=min_history
        )

    def streamed_profile_states(self) -> DataFrame:
        """Per-partition state view of everything the STREAM has
        delivered: the (pk, batch) accumulator rows merged down to one
        state row per partition (combine_profile_states — exact decimal
        sums, HLL register unions, element-wise histogram adds). Zero
        corpus IO; O(partitions × batches) input rows."""
        from ..functions.stats import combine_profile_states

        return combine_profile_states(
            self.catalog.read(PROFILE_STREAM_TABLE).drop("pk", "batch_id")
        )

    def drift_stream(self, column: str = "dur_ms") -> DataFrame:
        """KS/PSI drift per partition over the streamed-state view —
        the zero-corpus-IO drift check pointed at streaming ingest."""
        from ..functions.stats import drift_from_states

        return drift_from_states(self.streamed_profile_states(), column)

    def drift(self, column: str = "dur_ms") -> DataFrame:
        """Per-partition KS/PSI drift computed from the STORED state
        histograms (functions/stats.drift_from_states): after a runner
        pass whose ruleset declares a profile, checking the corpus for drift costs
        O(partitions x bins) arithmetic — zero corpus IO. Returns
        (partition_key, psi, ks); thresholding is caller policy."""
        from ..functions.stats import drift_from_states

        return drift_from_states(
            self.catalog.read(PROFILE_TABLE).drop("pk"), column
        )
