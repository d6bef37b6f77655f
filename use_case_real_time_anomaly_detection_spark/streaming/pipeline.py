"""Streaming clip validation: the runner's ``--stream`` mode.

Each micro-batch of newly landed clip files runs the same rule engine
as the batch runner (plans/clips.validate_table) and checkpoints its
verdicts and violations through the lineage store. Structured Streaming
``foreachBatch`` with Trigger.AvailableNow drains what has landed and
stops: the scheduled-batch analog of a cron tick, so the scheduler, not
a long-lived query, sets the cadence.

The sensor side of the reference's runtime loop (SURVEY.md §2.9) is
served, not streamed: Events API appends go through
``serving.EventStore.append_ndjson`` (ST1), and the per-minute copy
pipes with their overlap + dedup (ST2, ST3) are
``serving.MaterializedCopyLog.start`` running ``tick``'s anti-join
append.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_clips_validation(
    clip_stream: DataFrame,
    manifest: DataFrame | None,
    store,
    *,
    checkpoint_dir: str,
    key_col: str = "clip_id",
    rules: list | None = None,
    quarantine: bool = False,
    fail_threshold: float = 0.0,
    profile: bool = False,
    drift_on: str | None = None,
    drift_psi: float = 0.25,
    exclusion_windows: DataFrame | None = None,
    extra_refs: dict[str, DataFrame] | None = None,
    warn_detectors: tuple | list | None = None,
):
    """Continuous clip-table validation: each micro-batch of newly landed
    clips runs the full rule engine and checkpoints its verdicts +
    violations through the lineage store — the streaming rendition of
    runner.py's batch resume loop (same engine, same lineage table; the
    stream's file-source checkpoint replaces the frontier anti-join as
    the "what's new" mechanism).

    ``quarantine=True`` additionally maintains the quarantine table per
    micro-batch (engine.quarantine_split). The write is keyed by
    (partition_key, batch_id): a REPLAYED batch overwrites exactly its
    own rows (idempotence), while later batches delivering more clips
    for the same partition land under their own batch_id — they
    accumulate instead of erasing clips quarantined by earlier batches
    (each clip arrives in exactly one batch, so batches quarantine
    disjoint clip sets; overwriting per partition_key alone would let
    every later batch wipe the partition's earlier evidence and leak
    those bad clips past the downstream clean-corpus anti-join).
    ``fail_threshold`` is the rate-tolerance verdict gate, as in the
    batch runner.

    ``profile=True`` maintains the streamed profile-state accumulator:
    each micro-batch's per-partition mergeable state
    (functions/stats.profile_state) lands keyed (partition, batch) —
    replay-idempotent — and `store.streamed_profile_states()` merges the
    slim accumulator down to one state row per partition with ZERO
    corpus IO (combine_profile_states). This fixes the small-batch drift
    blindness of per-batch DriftRule evaluation: stats accumulate across
    batches instead of resetting each cycle.

    ``drift_on="dur_ms"`` (implies profile) adds the per-batch drift
    GATE: after merging this batch's states, partitions whose
    ACCUMULATED distribution drifts from the cross-partition consensus
    (PSI ≥ ``drift_psi`` over the stored fixed-grid histograms —
    functions/stats.drift_from_states, zero corpus IO) are written to
    the `drift_stream` table keyed by batch_id (replay overwrites
    itself). The pager reads the latest batch's rows.

    Scope per cycle ≙ the reference's per-minute copy runs: partition
    statistics (z-window, IQR fences, drift, staleness) are evaluated
    over the rows THIS batch delivered for each partition — exactly like
    a copy pipe's trailing-window snapshot — so a partition's verdict
    history accumulates one row per cycle in the lineage table.
    """
    from ..plans.clips import default_rules, validate_table
    from ..operators.schema import with_partition_cols

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        clips = with_partition_cols(batch_df, key_col=key_col)
        frontier = clips.agg(F.max("seq")).collect()[0][0]
        res = validate_table(
            clips,
            rules if rules is not None else default_rules(),
            key_col=key_col,
            manifest=manifest,
            frontier=int(frontier),
            run_id=f"stream-{batch_id}",
            persist=True,
            fail_threshold=fail_threshold,
            # same exemption contract as the batch runner: declared
            # downtime excuses row-level violations in EVERY micro-batch
            # (the window frame is static and operator-sized; it
            # broadcast-joins per batch, never shuffling the stream)
            exclusion_windows=exclusion_windows,
            # static side tables (calibration revisions, extra
            # manifests) rebind per micro-batch like the manifest does
            extra_refs=extra_refs,
            warn_detectors=warn_detectors,
        )
        # violations keyed (pk, batch_id) — a later batch delivering MORE
        # clips for a partition accumulates alongside earlier batches'
        # evidence instead of overwriting it (record_run's per-pk layout
        # is for authoritative full-partition batch passes only); a
        # replayed batch still overwrites exactly itself
        store.record_stream_run(
            res, batch_id=int(batch_id), frontier=int(frontier)
        )
        if quarantine:
            from ..operators.engine import quarantine_split

            _, quar = quarantine_split(
                clips, res, key_col=key_col,
                warn_detectors=warn_detectors or (),
            )
            # a SEPARATE table from the batch runner's `quarantine`:
            # streaming accumulates per-batch evidence dirs ((pk, batch)
            # grain — a replayed batch overwrites only itself), while the
            # batch table is an authoritative per-pk snapshot. One table
            # can't carry both layouts (conflicting partition depths);
            # CheckpointStore.quarantine() unions the two views, and an
            # authoritative batch pass clears the stream dirs it
            # supersedes (runner.py --quarantine).
            store.catalog.overwrite_partitions(
                quar.withColumn("batch_id", F.lit(int(batch_id))),
                "quarantine_stream",
                partition_by=["partition_key", "batch_id"],
            )
        if profile or drift_on:
            from ..functions.stats import profile_state

            # fixed grids (the merge contract) for both north-rule drift
            # axes. Drift-GATING grids must be COARSE relative to the
            # healthy cross-partition spread: each partition's dur walk
            # settles in its own ~±150 ms band, so 100 ms bins make
            # honest partitions straddle consensus bin edges and PSI-flag
            # spuriously — 400 ms bins absorb the natural band spread
            # while the planted +300 ms shift still crosses a full bin
            # (measured: drifted PSI ≈ 10, healthy ≈ 0, at 4 AND 8
            # partitions). sr_hz: 1 kHz bins separate the corpus rates
            # (8000 / 16000 / 44100) into distinct bins.
            # clip-contract columns only where present: a generic
            # (--key-col) stream still accumulates states for whatever
            # subset of the profiled columns its table carries
            num_cols = [c for c in ("dur_ms", "sr_hz") if c in clips.columns]
            st = profile_state(
                clips,
                partition_col="partition_key",
                numeric_columns=num_cols,
                distinct_columns=[
                    c for c in ("codec", key_col) if c in clips.columns
                ],
                histogram_columns={
                    c: g
                    for c, g in (
                        ("dur_ms", (0.0, 4000.0, 10)),
                        ("sr_hz", (0.0, 48000.0, 48)),
                    )
                    if c in clips.columns
                },
            )
            store.record_profile_batch(st, batch_id)
        if drift_on:
            flags = store.drift_stream(drift_on).filter(
                F.col("psi") >= F.lit(float(drift_psi))
            )
            store.record_drift_batch(flags, batch_id)
        res.unpersist()

    return (
        clip_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
