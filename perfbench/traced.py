"""The traced run: per-layer metrics, span dump and tracing overhead.

Two or three phases in one process, each with its own Spark session in
the same JVM:

- the traced phase: Spark's event log on and span recorders around the
  public calls of each layer; the event log is folded per span and each
  layer's numbers are taken per repetition;
- a plain phase at ``local[nproc]``, the reference for the tracing
  overhead;
- for ``validate_full`` only, the ``local[1]`` run of the non-gating
  scaling diagnostic.

The first phase pays for the cold JVM in its warm-up. For
``validate_full`` that is the ``local[1]`` run, so that the traced phase
and the plain one after it run equally warm. Elsewhere it is the plain
phase, run before the traced one, which understates the overhead a
little. Every phase stages its inputs once.
"""

from __future__ import annotations

import dataclasses
import glob
import os

from harness import RssSampler, end_to_end, median, stage_and_warm
from spans import Tracer, fold_event_log, self_times

QUERY_LAYER = {
    "gopher_quality": "functions.text",
    "simhash_pairs": "functions.dedup",
    "minhash_lsh": "functions.dedup",
    "ngram_jaccard": "functions.dedup",
    "ingest_gate": "functions.incremental",
    "image_dup": "functions.multimodal",
}
TRACED_WINDOW_S = 8.0  # cap on each phase's window, so every phase fits one run
WRITE_OWNER = {
    "streaming.checkpoint:record_run": "operators.engine",
    "streaming.checkpoint:record_profile": "functions.stats",
}
# Per-layer metric names and units, in BENCHMARK.json order. Every
# workload reports all of them; a layer the workload never calls reads 0.
UNITS = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "sources.scan_bytes": "bytes",
    "sources.scan_amplification": "ratio",
    "functions.audio.python_bytes_sent": "bytes",
    "functions.audio.stage_task_s": "s",
    "operators.engine.jobs": "count",
    "operators.engine.task_s": "s",
    "operators.engine.shuffle_write_bytes": "bytes",
    "operators.engine.gc_s": "s",
    "operators.engine.slot_util": "ratio",
    "operators.compiler.plan_s": "s",
    "operators.compiler.eager_jobs": "count",
    "operators.schema.gate_s": "s",
    "streaming.checkpoint.record_s": "s",
    "streaming.checkpoint.files_written": "count",
    "streaming.checkpoint.bytes_written": "bytes",
    "functions.stats.profile_s": "s",
    "functions.stats.jobs": "count",
    "runner.self_s": "s",
    "serving.jobs_per_request": "count",
    "serving.frontier_s": "s",
    "serving.events_read_s": "s",
    "serving.handler_s": "s",
    "serving.queue_wait_ms": "ms",
    "serving.append_s": "s",
    "serving.append_jobs": "count",
    "plans.copylog.tick_jobs": "count",
    "plans.copylog.tick_task_s": "s",
    "trace.run_s": "s",
    "trace.overhead_pct": "%",
    "scaling_efficiency": "ratio",
}
# Metrics that read 0 on both gated workloads at their gated sizes: the
# traced run prints them on a report line, not in its JSON.
UNGATED_UNITS = {
    "operators.engine.spill_bytes": "bytes",
    "streaming.checkpoint.resume_s": "s",
    "streaming.checkpoint.skip_ratio": "ratio",
    **{f"{layer}.shuffle_write_bytes": "bytes" for layer in dict.fromkeys(QUERY_LAYER.values())},
    "functions.dedup.pair_yield": "ratio",
    **{f"query.{q}_s": "s" for q in QUERY_LAYER},
}


def install(tracer: Tracer, wl) -> None:
    """Wrap the public calls of each layer the workload reaches."""
    from use_case_real_time_anomaly_detection_spark import runner, serving
    from use_case_real_time_anomaly_detection_spark.functions import audio, stats
    from use_case_real_time_anomaly_detection_spark.operators import engine, schema
    from use_case_real_time_anomaly_detection_spark.plans import copylog
    from use_case_real_time_anomaly_detection_spark.sources.tables import ParquetCatalog
    from use_case_real_time_anomaly_detection_spark.streaming.checkpoint import CheckpointStore

    if wl.name.startswith("validate"):
        for owner, attr, name in [
            (runner, "main", "runner:main"),
            (schema, "enforce_schema", "operators.schema:enforce_schema"),
            (engine, "compile_rules", "operators.compiler:compile_rules"),
            (audio, "with_audio_checks", "functions.audio:with_audio_checks"),
            (stats, "profile_state", "functions.stats:profile_state"),
            (CheckpointStore, "completed_partitions", "streaming.checkpoint:completed_partitions"),
            (CheckpointStore, "record_run", "streaming.checkpoint:record_run"),
            (CheckpointStore, "record_profile", "streaming.checkpoint:record_profile"),
            (ParquetCatalog, "overwrite_partitions", "sources.tables:overwrite_partitions"),
            (ParquetCatalog, "append", "sources.tables:append"),
        ]:
            tracer.wrap(owner, attr, name)
    elif wl.name == "serve_sensors":
        for owner, attr, name in [
            (serving.EventStore, "events", "serving:events"),
            (serving.EventStore, "frontier", "serving:frontier"),
            (serving.EventStore, "append_ndjson", "serving:append_ndjson"),
            (serving.MaterializedCopyLog, "tick", "plans.copylog:tick"),
            (copylog, "violations_log", "plans.copylog:violations_log"),
        ]:
            tracer.wrap(owner, attr, name)
        _wrap_handlers(tracer, wl, serving)


def _wrap_handlers(tracer: Tracer, wl, serving) -> None:
    """A handler span per GET: opened by the pipe's builder (passed to
    the server as ``pipes=``), closed when its response envelope is built."""
    env = serving.response_envelope

    def wrap_builder(build):
        def traced_build(store, params):
            tracer.begin("serving:handler")
            try:
                with tracer.span("serving:pipe"):
                    return build(store, params)
            except BaseException:
                tracer.end()
                raise
        return traced_build

    def traced_envelope(df, **kw):
        try:
            with tracer.span("serving:response_envelope"):
                return env(df, **kw)
        finally:
            tracer.end()

    tracer.patch(serving, "response_envelope", traced_envelope)
    pipes = serving.default_pipes(copy_log=lambda _s: wl.log.log())
    wl.pipes = {
        name: dataclasses.replace(p, builder=wrap_builder(p.builder))
        for name, p in pipes.items()
    }


class Fold:
    """Span tree of the measured repetitions plus the event-log totals of
    each span's job group, with per-repetition accessors."""

    def __init__(self, tracer: Tracer, folded: dict, reps: int):
        self.spans = [s for s in tracer.spans if s.run_id.startswith("rep-")]
        self.ids = {s.span_id: s for s in self.spans}
        self.folded = folded
        self.group_of = tracer.group_of
        self.reps = max(reps, 1)
        self.children: dict[int, list] = {}
        for s in self.spans:
            if s.parent is not None:
                self.children.setdefault(s.parent, []).append(s)
        self.self_s = self_times(self.spans)

    def named(self, name: str, parent_name: str | None = None) -> list:
        return [
            s for s in self.spans if s.name == name and (
                parent_name is None
                or (s.parent in self.ids and self.ids[s.parent].name == parent_name))
        ]

    def subtree(self, spans, key: str) -> float:
        total, todo = 0.0, list(spans)
        while todo:
            s = todo.pop()
            total += self.folded.get(self.group_of(s.span_id), {}).get(key, 0)
            todo.extend(self.children.get(s.span_id, []))
        return total

    def per_rep(self, spans, key: str | None = None) -> float:
        """Seconds (key None) or event-log ``key`` per repetition."""
        if key is None:
            return sum(s.seconds for s in spans) / self.reps
        return self.subtree(spans, key) / self.reps

    def per_span(self, spans, key: str) -> float:
        return self.subtree(spans, key) / len(spans) if spans else 0.0

    def layer_of(self, span) -> str:
        """The layer a span's self time belongs to: the part of its name
        before the colon. A table write runs the lazy plan of the layer
        that asked for it, so it bills that layer."""
        layer, _, call = span.name.partition(":")
        if layer == "query":
            return QUERY_LAYER[call]
        parent = self.ids.get(span.parent)
        if layer == "sources.tables" and parent is not None:
            return WRITE_OWNER.get(parent.name, layer)
        return layer

    def dominant(self) -> tuple[str, float, float]:
        """(layer, self seconds per repetition, share of repetition time)
        of the layer with the most self time. Client-side and repetition
        root spans are not layers."""
        by_layer: dict[str, float] = {}
        for s in self.spans:
            layer = self.layer_of(s)
            if layer not in ("client", "rep"):
                by_layer[layer] = by_layer.get(layer, 0.0) + self.self_s[s.span_id]
        if not by_layer:
            return "none", 0.0, 0.0
        layer = max(by_layer, key=by_layer.get)
        rep_s = sum(s.seconds for s in self.spans if s.name.startswith("rep:"))
        return layer, by_layer[layer] / self.reps, by_layer[layer] / rep_s if rep_s else 0.0


def validate_metrics(f: Fold, wl, m, cores: int) -> dict[str, float]:
    runs = f.named("runner:main")
    materialize = f.named("streaming.checkpoint:record_run")
    compile_ = f.named("operators.compiler:compile_rules")
    profile = f.named("functions.stats:profile_state") + f.named(
        "streaming.checkpoint:record_profile")
    record = materialize + f.named("streaming.checkpoint:record_profile") + f.named(
        "sources.tables:overwrite_partitions", parent_name="runner:main")
    scan = f.per_rep(runs, "scan_bytes")
    engine_task = f.per_rep(materialize, "task_s")
    runner_wall = f.per_rep(runs)
    return {
        "sources.scan_bytes": scan,
        "sources.scan_amplification": scan / wl.input_bytes if wl.input_bytes else 0.0,
        "functions.audio.python_bytes_sent": f.per_rep(runs, "python_bytes_sent"),
        "functions.audio.stage_task_s": f.per_rep(runs, "python_stage_task_s"),
        "operators.engine.jobs": f.per_rep(materialize, "jobs"),
        "operators.engine.task_s": engine_task,
        "operators.engine.shuffle_write_bytes": f.per_rep(materialize, "shuffle_write_bytes"),
        "operators.engine.spill_bytes": f.per_rep(materialize, "spill_bytes"),
        "operators.engine.gc_s": f.per_rep(materialize, "gc_s"),
        "operators.engine.slot_util": engine_task / (runner_wall * cores) if runner_wall else 0.0,
        "operators.compiler.plan_s": f.per_rep(compile_),
        "operators.compiler.eager_jobs": f.per_rep(compile_, "jobs"),
        "operators.schema.gate_s": f.per_rep(f.named("operators.schema:enforce_schema")),
        "streaming.checkpoint.record_s": f.per_rep(record),
        "streaming.checkpoint.files_written": median(m.extra.get("ckpt_files", [])),
        "streaming.checkpoint.bytes_written": median(m.extra.get("ckpt_bytes", [])),
        "streaming.checkpoint.resume_s": f.per_rep(f.named("streaming.checkpoint:completed_partitions")),
        "streaming.checkpoint.skip_ratio": median(m.extra.get("skip_ratio", [])),
        "functions.stats.profile_s": f.per_rep(profile),
        "functions.stats.jobs": f.per_rep(profile, "jobs"),
        "runner.self_s": sum(f.self_s[s.span_id] for s in runs) / f.reps,
    }


def serve_metrics(f: Fold) -> dict[str, float]:
    handlers = f.named("serving:handler")
    gets = f.named("client:get")
    waits = []
    for c in gets:
        inside = [h.seconds for h in handlers if c.start <= h.start <= c.end]
        if inside:
            waits.append((c.seconds - sum(inside)) * 1000.0)
    appends = f.named("serving:append_ndjson")
    ticks = f.named("plans.copylog:tick")
    return {
        "serving.jobs_per_request": f.per_span(handlers, "jobs"),
        "serving.frontier_s": median([s.seconds for s in f.named("serving:frontier")]),
        "serving.events_read_s": median([s.seconds for s in f.named("serving:events")]),
        "serving.handler_s": median([s.seconds for s in handlers]),
        "serving.queue_wait_ms": median(waits),
        "serving.append_s": median([s.seconds for s in appends]),
        "serving.append_jobs": f.per_span(appends, "jobs"),
        "plans.copylog.tick_jobs": f.per_span(ticks, "jobs"),
        "plans.copylog.tick_task_s": f.per_span(ticks, "task_s"),
    }


def dedup_metrics(f: Fold, wl) -> dict[str, float]:
    out: dict[str, float] = {}
    for q, layer in QUERY_LAYER.items():
        spans = f.named(f"query:{q}")
        key = f"{layer}.shuffle_write_bytes"
        out[key] = out.get(key, 0.0) + f.per_rep(spans, "shuffle_write_bytes")
        out[f"query.{q}_s"] = median([s.seconds for s in spans])
    # pairs the query emits (its checked warm-up result) per band-join row
    band_rows = f.per_span(f.named("query:minhash_lsh"), "band_join_rows")
    out["functions.dedup.pair_yield"] = (
        wl.result_rows.get("minhash_lsh", 0) / band_rows if band_rows else 0.0)
    return out


def traced_phase(ctx, wl_cls, seconds: float):
    """Set-up, warm-up and measuring window in a session with the event
    log on and every layer wrapped; returns (Measurement, workload,
    tracer, folded event log)."""
    from workloads import Measurement

    eventlog_dir = ctx.fresh_dir("eventlog")
    m = Measurement()
    wl = wl_cls(ctx)
    ctx.open(eventlog_dir=eventlog_dir)
    tracer = Tracer(ctx.spark)
    ctx.tracer = tracer
    try:
        install(tracer, wl)
        ctx.phase = "setup"
        stage_and_warm(ctx, wl, m, stagings=1)
        ctx.phase = "rep"
        with RssSampler() as rss:
            wl.measure(seconds, m)
        m.peak_rss_mb = rss.peak_mb
    finally:
        wl.close()
        tracer.restore()
        ctx.tracer = None
    ctx.close()  # flushes the event log
    folded: dict = {}
    for path in glob.glob(f"{eventlog_dir}/*"):
        with open(path) as fh:
            folded.update(fold_event_log(fh))
    return m, wl, tracer, folded


def run(ctx, wl_cls, seconds: float):
    """Returns (Measurement of the traced phase, per-layer metrics,
    report lines)."""
    name = wl_cls.name
    seconds = min(seconds, TRACED_WINDOW_S)
    if name == "serve_sensors":
        # one round per repetition keeps both serving phases inside the
        # run's time limit on a loaded host; the overhead compares
        # per-probe medians, which a round gives as well as two
        wl_cls = type(wl_cls.__name__, (wl_cls,), {"rounds": 1})
    notes = []
    if name == "validate_full":
        _, one = end_to_end(ctx, wl_cls, 1, cores=1, stagings=1)
    else:
        _, plain = end_to_end(ctx, wl_cls, seconds, stagings=1)
    cold_start_s = ctx.start_s
    m, wl, tracer, folded = traced_phase(ctx, wl_cls, seconds)
    if name == "validate_full":
        _, plain = end_to_end(ctx, wl_cls, seconds, stagings=1)
    f = Fold(tracer, folded, len(m.reps))
    metrics = {k: 0.0 for k in {**UNITS, **UNGATED_UNITS}}
    metrics["session.start_s"] = cold_start_s
    metrics["session.peak_rss_mb"] = m.peak_rss_mb
    if name.startswith("validate"):
        metrics.update(validate_metrics(f, wl, m, ctx.cores))
    elif name == "serve_sensors":
        metrics.update(serve_metrics(f))
    else:
        metrics.update(dedup_metrics(f, wl))

    # the overhead is measured on the repetition time, or on the request
    # median when serving
    key = "latency_p50_ms" if name == "serve_sensors" else "run_s"
    traced_v = m.latency_s() * 1000.0 if name == "serve_sensors" else median(m.reps)
    plain_v = plain[key][0]
    metrics["trace.run_s"] = median(m.reps)
    metrics["trace.overhead_pct"] = 100.0 * (traced_v - plain_v) / plain_v if plain_v else 0.0

    if name == "validate_full":
        eff = plain["throughput_per_s"][0] / (ctx.cores * one["throughput_per_s"][0])
        metrics["scaling_efficiency"] = eff
        notes.append(
            f"scaling_efficiency={eff:.3f} (clips/s at local[{ctx.cores}] "
            f"{plain['throughput_per_s'][0]:.1f} / ({ctx.cores} x clips/s at local[1] "
            f"{one['throughput_per_s'][0]:.1f})); diagnostic, not gated")
    layer, self_s, share = f.dominant()
    notes.append(f"{name}: dominant layer {layer}: {self_s:.3f} s self time per "
                 f"repetition, {100 * share:.1f}% of repetition time")
    notes.append(f"{name}: tracing overhead {metrics['trace.overhead_pct']:+.1f}% on {key} "
                 f"(traced {traced_v:.3f}, plain {plain_v:.3f})")
    spans_path = os.path.join(os.path.dirname(ctx.work), f"spans-{name}-{ctx.seed}.jsonl")
    tracer.dump(spans_path)
    notes.append(f"{name}: {len(tracer.spans)} spans with self times written to {spans_path}")
    ungated = [f"{k}={metrics[k]:.6g} {u}" for k, u in UNGATED_UNITS.items() if metrics[k]]
    if ungated:
        notes.append(f"{name}: not in BENCHMARK.json: " + "; ".join(ungated))
    return m, {k: (metrics[k], u) for k, u in UNITS.items()}, notes
