"""spark-submit entrypoint for the clip-validation engine.

North-rule surface: "runs via spark-submit --py-files on multi-executor
clusters at N and 4N executors". Usage on a cluster:

    python tools/package_pyfiles.py           # → dist/engine_pyfiles.zip
    spark-submit --py-files dist/engine_pyfiles.zip \\
        --master <cluster> --num-executors <N> \\
        use_case_real_time_anomaly_detection_spark/runner.py \\
        --clips <path-or-table> --manifest <path> \\
        --checkpoint-dir /warehouse/validation --frontier 1999

and in this sandbox (local mode stands in for a cluster; the same code
path — see BENCH/BASELINE.md for the N vs 4N evidence):

    python -m use_case_real_time_anomaly_detection_spark.runner \\
        --synth 8x500 --checkpoint-dir /tmp/ckpt

The job:
  1. reads the clip table + manifest (or synthesizes a deterministic
     fixture with --synth P×C),
  2. anti-joins away partitions already complete in the lineage table
     (resume; skipped with --no-resume),
  3. runs the full rule set (single fused pass; audio decode gated by
     --no-audio),
  4. writes violations (dynamic-partition-overwrite → idempotent) and
     appends lineage/metrics rows,
  5. overwrites the validated partitions' profile-state rows, which
     the stats pass computed, when the ruleset declares a profile,
  6. prints one JSON line: rows validated, violations, per-detector
     counts, wall seconds, clips/sec.

≙ the reference's scheduled copy-pipe run (SURVEY.md §3.2): detector
union → dedup → log append, made idempotent + resumable.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="clip-validation run")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--clips", help="parquet path (or table) of the clip table")
    src.add_argument(
        "--synth",
        metavar="PxC",
        help="synthesize a deterministic fixture: P partitions x C clips",
    )
    src.add_argument(
        "--stream",
        metavar="DIR",
        help="streaming mode: validate clip parquet files as they land in "
        "DIR (Trigger.AvailableNow drain per invocation; the stream's "
        "file-source checkpoint under --checkpoint-dir tracks what's new)",
    )
    p.add_argument(
        "--stream-profile",
        action="store_true",
        help="with --stream: maintain the streamed profile-state "
        "accumulator — each micro-batch's per-partition mergeable state "
        "lands keyed (partition, batch), replay-idempotent; "
        "CheckpointStore.streamed_profile_states() merges it with zero "
        "corpus IO",
    )
    p.add_argument(
        "--stream-drift",
        default=None,
        metavar="COLUMN[:PSI]",
        help="with --stream: per-batch drift gate off the ACCUMULATED "
        "state histograms (implies --stream-profile); partitions whose "
        "PSI vs the cross-partition consensus exceeds the threshold "
        "(default 0.25) land in the drift_stream table keyed by batch",
    )
    src.add_argument(
        "--diff-runs",
        metavar="PREV,CUR",
        help="regression mode: compare two recorded runs' verdicts from "
        "the lineage table (operators/engine.verdict_diff) and print the "
        "transition summary — exit code 1 if any new-failure rows exist, "
        "so an orchestrator can gate promotion on it",
    )
    src.add_argument(
        "--trend",
        nargs="?",
        const="2.0,3",
        metavar="THRESHOLD,MIN_HISTORY",
        help="meta-monitoring mode: score every run in the lineage table "
        "against its (partition, detector) series' prior runs "
        "(operators/monitor.lineage_anomalies — prefix z-score + "
        "constant-history step flags) and print all trend anomalies — "
        "exit code 1 if any series is anomalous at its LATEST run, so an "
        "orchestrator can page on corpus degradation that per-run "
        "verdicts miss. Default 2.0,3",
    )
    p.add_argument("--manifest", help="parquet path of the clip manifest")
    p.add_argument(
        "--checkpoint-dir",
        required=True,
        help="root for the violations + lineage tables",
    )
    p.add_argument(
        "--frontier",
        type=int,
        default=None,
        help="sequence frontier (frozen NOW(), SURVEY.md §4.3); "
        "default: max seq present per the synth spec / input",
    )
    p.add_argument("--no-audio", action="store_true", help="skip audio decode rules")
    p.add_argument(
        "--rules",
        default=None,
        metavar="PATH",
        help="ruleset JSON (operators/config.py) overriding the built-in "
        "default rule set; invalid configs abort before any Spark job "
        "(≙ the reference's {{ error(...) }} template validation)",
    )
    p.add_argument(
        "--quarantine",
        action="store_true",
        help="also maintain the quarantine table (one row per clip "
        "individually implicated by a violation; partition-overwritten "
        "for the partitions this run validated, so re-runs are "
        "idempotent). Downstream derives the clean corpus via anti-join "
        "against it — the scale-correct artifact (violation-sized), vs "
        "rewriting the corpus itself",
    )
    p.add_argument(
        "--fail-threshold",
        type=float,
        default=0.0,
        metavar="RATE",
        help="per-partition pass tolerance as a violation rate (default "
        "0.0 = reference semantics: any violation fails the partition); "
        "violations are always all emitted and quarantined regardless",
    )
    p.add_argument(
        "--compact",
        action="store_true",
        help="after the run, bin-pack the checkpoint store's fragmented "
        "tables (the append-only lineage history grows one file per run; "
        "violations one dir per partition). Metadata-planned, rewrites "
        "only what exceeds the file-count target — a no-op on a healthy "
        "store (sources/tables.compact_partitions)",
    )
    p.add_argument(
        "--max-violations",
        type=int,
        default=None,
        metavar="N",
        help="cap emitted violation evidence at N rows per (partition, "
        "detector), deterministic first-N by clip_id (skew-proof two-"
        "phase cap — a fully-drifted partition otherwise materializes "
        "every bad row). Verdict counts stay exact; quarantine then "
        "covers only the capped evidence, so pair with --fail-threshold "
        "gating rather than clean-corpus derivation",
    )
    p.add_argument(
        "--sample",
        type=float,
        default=None,
        metavar="FRACTION",
        help="smoke mode: validate only a deterministic content-hash "
        "sample of the clips (md5-bucket on clip_id — reproducible "
        "across runs, partitionings, and engines, unlike rand() "
        "sampling). The cheap pre-gate before a full validation pass at "
        "corpus scale. NON-AUTHORITATIVE: verdicts are recorded with "
        "completed_at_seq=-1 (never counted by resume) and the "
        "violations/quarantine/profile tables are left untouched — only "
        "full passes own store state",
    )
    p.add_argument(
        "--exclusion-windows",
        default=None,
        metavar="PATH",
        help="parquet of declared maintenance windows (partition_key, "
        "start_seq, end_seq — half-open on the seq axis): row-level "
        "violations raised inside a window are excused (verdicts follow), "
        "while rolling stats, rows_checked and partition-level detectors "
        "(timeout, unique, drift, aggregate) keep exact semantics. "
        "Operator-sized — broadcast as one array row per partition, the "
        "clip table never shuffles for it",
    )
    p.add_argument(
        "--warn",
        default=None,
        metavar="DET1,DET2",
        help="comma-separated detector names demoted to WARN severity: "
        "violations still recorded (verdict rows keep exact counts) but "
        "the verdict passes and warned clips are not quarantined — an "
        "advisory signal, not a promotion blocker. Unioned with the "
        "ruleset document's warn_detectors key; unknown names abort "
        "before any job",
    )
    p.add_argument(
        "--ref-table",
        action="append",
        default=None,
        metavar="NAME=PATH",
        help="bind an extra logical ref table to a parquet path "
        "(repeatable), e.g. calibration_revisions=/data/cal for a "
        "ruleset's calibrated_range rules. The built-in clip_manifest "
        "binding comes from --manifest; unknown-table references in the "
        "ruleset abort at config time, before any job runs",
    )
    p.add_argument(
        "--key-col",
        default="clip_id",
        metavar="NAME",
        help="row-key column of the validated table (default clip_id). "
        "Any modality table works — the engine is key-agnostic: pass "
        "e.g. item_id for an image/video table whose ids follow the "
        "same c{part}-{seq} contract (or that already carries "
        "partition_key + seq columns). With a non-default key the "
        "built-in clip schema gate is skipped; declare the table's "
        "schema in the ruleset document instead",
    )
    p.add_argument("--no-resume", action="store_true", help="revalidate everything")
    p.add_argument("--run-id", default=None)
    p.add_argument(
        "--master",
        default=None,
        help="Spark master override; default: the spark-submit session "
        "(or local[$SPARK_GRAFT_CPUS] standalone)",
    )
    return p.parse_args(argv)


def _split_warn(arg: str | None) -> tuple:
    """--warn 'a,b' → ('a', 'b'); blanks dropped."""
    if not arg:
        return ()
    return tuple(s.strip() for s in arg.split(",") if s.strip())


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)

    from pyspark.sql import functions as F

    from .operators.config import load_ruleset_document
    from .operators.schema import (
        CLIPS_TABLE_SCHEMA,
        enforce_schema,
        with_partition_cols,
    )
    from .plans.clips import default_rules, validate_table
    from .session import get_spark
    from .sources.synth import (
        SynthSpec,
        frontier_of,
        generate_clips,
        generate_manifest,
    )
    from .sources.tables import get_catalog
    from .streaming.checkpoint import CheckpointStore

    spark = get_spark(args.master)
    spark.sparkContext.setLogLevel("WARN")

    if args.diff_runs:
        from .operators.engine import verdict_diff

        try:
            prev_id, cur_id = (s.strip() for s in args.diff_runs.split(","))
        except ValueError:
            print("--diff-runs needs PREV,CUR run ids", file=sys.stderr)
            return 2
        from .operators.limit_by import limit_by

        store = CheckpointStore(get_catalog(spark, args.checkpoint_dir))
        lin = store.lineage()
        frames = {}
        for rid in (prev_id, cur_id):
            f = lin.filter(F.col("run_id") == rid).drop("run_id")
            if f.isEmpty():
                print(f"run_id {rid!r} not found in lineage", file=sys.stderr)
                return 2
            # a reused --run-id appends duplicate (partition, detector)
            # rows to the lineage table; dedup to ONE row per pair —
            # latest completed_at_seq wins — so the diff join never fans
            # out and statuses aren't double-counted
            # ties (re-executions at the SAME frontier) break
            # pessimistically and deterministically: the row with the
            # most violations wins, so a reused id can only make the
            # gate stricter, never flip it run-to-run
            frames[rid] = limit_by(
                f,
                ["partition_key", "detector"],
                [
                    F.col("completed_at_seq").desc(),
                    F.col("violation_count").desc(),
                    F.col("rows_checked").desc(),
                ],
                1,
            )
        diff = verdict_diff(frames[prev_id], frames[cur_id]).localCheckpoint()
        by_status = {
            r["status"]: r["n"]
            for r in diff.groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        # the promotion gate trips on new-failure AND added-failing: a
        # resumed run records verdicts only for the partitions it
        # re-validated, so a regression in a pair absent from the previous
        # run surfaces as added-failing — letting it through would make
        # resumed runs a gate bypass
        gate_rows = [
            {"status": r["status"],
             **{k: r[k] for k in ("partition_key", "detector",
                                  "prev_violations", "cur_violations", "delta")}}
            for r in diff.filter(
                F.col("status").isin("new-failure", "added-failing")
            ).collect()
        ]
        print(json.dumps({
            "mode": "diff",
            "prev": prev_id,
            "cur": cur_id,
            "by_status": by_status,
            "new_failures": gate_rows,
        }))
        return 1 if gate_rows else 0

    if args.trend:
        from .operators.monitor import lineage_anomalies

        try:
            thr_s, mh_s = (s.strip() for s in args.trend.split(","))
            threshold, min_history = float(thr_s), int(mh_s)
        except ValueError:
            print(
                "--trend takes THRESHOLD,MIN_HISTORY (e.g. 2.0,3)",
                file=sys.stderr,
            )
            return 2
        store = CheckpointStore(get_catalog(spark, args.checkpoint_dir))
        lin = store.lineage()
        flagged = lineage_anomalies(
            lin, threshold=threshold, min_history=min_history
        ).localCheckpoint()
        # the page condition: the flag is the LAST observation of its
        # series — the trend is anomalous NOW, not just historically.
        # is_latest comes from lineage_anomalies itself (same deduped
        # frame as the scoring): re-deriving max(seq) from RAW lineage
        # would miss flags whose reused-run-id dedup kept a worst-rate
        # row with a non-max seq.
        current = flagged.filter(F.col("is_latest"))
        cols = (
            "partition_key", "detector", "run_id", "completed_at_seq",
            "rate", "prior_mean", "zscore", "kind",
        )
        cur_rows = [{k: r[k] for k in cols} for r in current.collect()]
        print(json.dumps({
            "mode": "trend",
            "threshold": threshold,
            "min_history": min_history,
            "total_flags": flagged.count(),
            "current_flags": cur_rows,
        }))
        return 1 if cur_rows else 0

    # usage errors and the config load come before any Spark job
    ref_paths = {}
    for binding in args.ref_table or ():
        name, sep, path = binding.partition("=")
        if not sep or not name or not path:
            print(f"--ref-table needs NAME=PATH, got {binding!r}", file=sys.stderr)
            return 2
        ref_paths[name] = path
    if not args.synth and not args.manifest and args.key_col == "clip_id":
        # the clip contract carries referential/transcript rules;
        # generic tables (--key-col) may validate manifest-free
        mode = "--stream" if args.stream else "--clips"
        print(f"--manifest is required with {mode}", file=sys.stderr)
        return 2
    if args.max_violations is not None and args.max_violations < 1:
        print("--max-violations needs an integer >= 1", file=sys.stderr)
        return 2
    if args.sample is not None and not (0.0 < args.sample <= 1.0):
        print("--sample needs a fraction in (0, 1]", file=sys.stderr)
        return 2
    if args.rules:
        rules, declared_schema, doc_warn = load_ruleset_document(args.rules)
    else:
        rules = default_rules(with_audio=not args.no_audio)
        declared_schema = None
        doc_warn = ()
    # severity demotions: the ruleset document's warn_detectors plus any
    # --warn names (union — either source can demote)
    warn = tuple(dict.fromkeys([*doc_warn, *_split_warn(args.warn)]))
    if args.stream and args.key_col != "clip_id" and declared_schema is None:
        print(
            "--stream with --key-col needs a ruleset document "
            "declaring the table schema",
            file=sys.stderr,
        )
        return 2
    drift_col, drift_psi = None, 0.25
    if args.stream_drift:
        drift_col, _, psi_s = args.stream_drift.partition(":")
        if drift_col not in ("dur_ms", "sr_hz"):
            print(
                "--stream-drift: column must be one of dur_ms, sr_hz "
                "(the columns the streamed profile states carry "
                f"histograms for), got {drift_col!r}",
                file=sys.stderr,
            )
            return 2
        try:
            drift_psi = float(psi_s) if psi_s else 0.25
        except ValueError:
            print(
                f"--stream-drift: PSI threshold must be a number, "
                f"got {psi_s!r}",
                file=sys.stderr,
            )
            return 2
    extra_refs = (
        {name: spark.read.parquet(path) for name, path in ref_paths.items()}
        or None
    )
    exclusion_windows = (
        spark.read.parquet(args.exclusion_windows) if args.exclusion_windows else None
    )

    if args.stream:
        from .sources.synth import CLIPS_SCHEMA
        from .streaming.pipeline import stream_clips_validation

        if args.key_col != "clip_id":
            # generic-table stream: the file source's read schema is the
            # ruleset document's schema contract (the one the batch gate
            # enforces)
            ddl = ", ".join(f"{c.name} {c.dtype}" for c in declared_schema.columns)
            stream = spark.readStream.schema(ddl).parquet(args.stream)
        else:
            stream = spark.readStream.schema(CLIPS_SCHEMA).parquet(args.stream)
        store = CheckpointStore(get_catalog(spark, args.checkpoint_dir))
        manifest = spark.read.parquet(args.manifest) if args.manifest else None
        t0 = time.time()
        q = stream_clips_validation(
            stream,
            manifest,
            store,
            checkpoint_dir=f"{args.checkpoint_dir}/_stream_ckpt",
            key_col=args.key_col,
            rules=rules,
            warn_detectors=warn or None,
            quarantine=args.quarantine,
            fail_threshold=args.fail_threshold,
            profile=args.stream_profile or drift_col is not None,
            drift_on=drift_col,
            drift_psi=drift_psi,
            exclusion_windows=exclusion_windows,
            extra_refs=extra_refs,
        )
        q.awaitTermination()
        lin = store.lineage().filter(F.col("run_id").startswith("stream-"))
        out = {
            "mode": "stream",
            "cycles": lin.select("run_id").distinct().count(),
            "partitions_validated": lin.select("partition_key")
            .distinct()
            .count(),
            "violations": store.violations().count(),
            "seconds": round(time.time() - t0, 2),
        }
        if args.stream_drift and store.catalog.exists("drift_stream"):
            flags = store.catalog.read("drift_stream")
            # every batch writes a NULL-key marker row, so max(batch_id)
            # is the latest PROCESSED batch, not the latest that flagged
            latest = flags.agg(F.max("batch_id")).collect()[0][0]
            out["drift_flagged_latest_batch"] = sorted(
                r["partition_key"]
                for r in flags.filter(
                    (F.col("batch_id") == latest)
                    & F.col("partition_key").isNotNull()
                )
                .select("partition_key")
                .collect()
            )
        print(json.dumps(out))
        return 0

    if args.synth:
        parts, clips_per = (int(x) for x in args.synth.lower().split("x"))
        spec = SynthSpec(partitions=parts, clips_per_partition=clips_per)
        clips = generate_clips(spark, spec)
        manifest = generate_manifest(spark, spec)
        frontier = args.frontier if args.frontier is not None else frontier_of(spec)
    else:
        clips = spark.read.parquet(args.clips)
        manifest = spark.read.parquet(args.manifest) if args.manifest else None
        if args.frontier is not None:
            frontier = args.frontier
        else:
            # frontier = highest sequence present: the table's own seq, or
            # the one its key carries (the id contract, FIXTURES.md §1)
            frontier = (
                with_partition_cols(clips, key_col=args.key_col)
                .agg(F.max("seq").alias("m"))
                .collect()[0]["m"]
            )

    store = CheckpointStore(get_catalog(spark, args.checkpoint_dir))
    skip = None if args.no_resume else store.completed_partitions(frontier)

    # pre-flight schema gate: driver-side metadata comparison only (no
    # job) — a mis-typed upstream column aborts here, not mid-scan.
    # The ruleset document's "schema" key overrides the built-in clip
    # contract (BASELINE.json input_hint shape).
    if declared_schema is not None or args.key_col == "clip_id":
        clips = enforce_schema(clips, declared_schema or CLIPS_TABLE_SCHEMA)
    if args.sample is not None:
        from .functions.text import hash_sample

        # applied AFTER the schema gate (the contract is checked on the
        # full table) and BEFORE validation, so every downstream artifact
        # consistently describes the sampled subset
        clips = hash_sample(
            clips, id_col=args.key_col, fraction=args.sample, salt="validate"
        )
    t0 = time.time()
    result = validate_table(
        clips,
        rules,
        key_col=args.key_col,
        manifest=manifest,
        frontier=frontier,
        skip_partitions=skip,
        run_id=args.run_id,
        persist=True,
        fail_threshold=args.fail_threshold,
        max_violations_per_group=args.max_violations,
        exclusion_windows=exclusion_windows,
        extra_refs=extra_refs,
        warn_detectors=warn or None,
    )
    if args.sample is not None:
        # smoke runs are NON-AUTHORITATIVE: verdicts recorded for
        # inspection only (completed_at_seq=-1 never satisfies resume);
        # violations/quarantine/profile stay owned by full passes — a 1%
        # pre-gate must not mark partitions validated, replace full
        # evidence, or clear quarantine derived from the whole corpus
        store.record_smoke(result)
        verdict_rows = result.verdicts.collect()
    else:
        verdict_rows = store.record_run(result, frontier=frontier)
    validated_keys = list(dict.fromkeys(r["partition_key"] for r in verdict_rows))

    if args.quarantine and args.sample is None:
        from pyspark.sql.types import StructType

        from .operators.engine import quarantine_split, reindex_quarantine
        from .session import local_frame

        _, quar = quarantine_split(
            clips, result, key_col=args.key_col, warn_detectors=warn
        )
        # idempotence contract: every partition this run validated is
        # replaced — including ones whose violations all cleared, which
        # emit a NULL-clip_id marker row (reindex_quarantine) so dynamic
        # partition overwrite clears their stale quarantine rows instead
        # of skipping them
        validated_parts = local_frame(
            spark,
            StructType([result.verdicts.schema["partition_key"]]),
            [(k,) for k in validated_keys],
        )
        store.catalog.overwrite_partitions(
            reindex_quarantine(quar, validated_parts),
            "quarantine",
            partition_by=["partition_key"],
        )
        # this batch pass is AUTHORITATIVE for the partitions it
        # validated: clear any streaming-accumulated quarantine dirs it
        # supersedes so store.quarantine()'s union doesn't resurrect
        # clips this full validation just cleared (idempotent — a re-run
        # drops nothing new)
        if store.catalog.exists("quarantine_stream"):
            store.catalog.drop_partitions(
                "quarantine_stream",
                "partition_key",
                validated_keys,
            )

    # the ruleset's profile entry: the stats pass's state rows of the
    # partitions this run validated replace theirs (resume semantics)
    if args.sample is None and result.profile is not None:
        store.record_profile(result.profile)

    compaction = None
    if args.compact:
        from .sources.tables import IcebergCatalog, compact_partitions

        if isinstance(store.catalog, IcebergCatalog):
            # never crash a successful run on maintenance: Iceberg does
            # its own compaction transactionally
            compaction = {
                "skipped": "iceberg catalog — use CALL system.rewrite_data_files"
            }
        else:
            compaction = {
                "lineage": compact_partitions(store.catalog, "lineage", []),
                "violations": compact_partitions(
                    store.catalog, "violations", ["pk"], shard_col="clip_id"
                ),
            }

    # the summary reads the verdict rows this pass wrote: no lineage re-read
    per_det: dict = {}
    clips_per_part: dict = {}
    for r in verdict_rows:
        per_det[r["detector"]] = per_det.get(r["detector"], 0) + r["violation_count"]
        # rows_checked is per (partition, detector): a partition's clip
        # count is its max over detectors, whichever rules the ruleset
        # declares
        k = r["partition_key"]
        clips_per_part[k] = max(clips_per_part.get(k, 0), r["rows_checked"] or 0)
    dt = time.time() - t0
    result.unpersist()
    n_parts = len(validated_keys)
    clips_n = sum(clips_per_part.values())
    print(
        json.dumps(
            {
                "run_id": result.run_id,
                "frontier": frontier,
                "partitions_validated": n_parts,
                "clips_validated": int(clips_n),
                "violations": sum(per_det.values()),
                "per_detector": per_det,
                "seconds": round(dt, 2),
                "clips_per_sec": round(clips_n / dt, 1) if dt > 0 else None,
                **({"compaction": compaction} if compaction else {}),
            }
        )
    )
    return 0


if __name__ == "__main__":
    if __package__ in (None, ""):
        # spark-submit (and plain `python .../runner.py`) execute this file
        # as __main__ OUTSIDE the package, so the relative imports in
        # main() have no parent. Re-dispatch through the absolute package
        # import: with `--py-files dist/engine_pyfiles.zip` the zip is on
        # the driver's sys.path already; for a bare checkout run, the repo
        # root (this file's grandparent) is added as a fallback.
        import os

        _root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        sys.path.insert(0, _root)
        # executor Python workers unpickle closures referencing the package;
        # spark-submit --py-files ships it to them, and for a bare-checkout
        # run the JVM (not yet launched) passes PYTHONPATH through to the
        # workers it spawns — so export it before the session starts.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (_root, os.environ.get("PYTHONPATH")) if p
        )
        from use_case_real_time_anomaly_detection_spark.runner import (
            main as _pkg_main,
        )

        sys.exit(_pkg_main())
    sys.exit(main())
