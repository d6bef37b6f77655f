"""HTTP publication layer — the reference's API surface, served.

The reference publishes every pipe as an authenticated REST endpoint
(`GET /v0/pipes/<name>.json?param=...`, /root/reference/readme.md:36-40)
guarded by pipe-scoped READ tokens (`pipes/out_of_range.pipe:6-8`,
`pipes/get_anomalies.pipe:5`), and ingests NDJSON events through the
Events API (`POST /v0/events?name=incoming_data` — the generator's POST
loop, data-generator/anomaly-dataset-live.py:204-208). This module is
that layer for the Spark engine:

- ``ParamSpec`` ≙ the template parameter mini-language
  (`{{ Int16(name, default, description, required) }}`,
  out_of_range.pipe:13-15): typed coercion, defaults, required checks,
  and template-time ``error()`` ≙ a 400 response with ``{"error": ...}``.
- ``Pipe`` ≙ one published pipe: a DataFrame builder over the engine's
  plan functions (plans/detectors.py, plans/copylog.py) plus its param
  specs and token scope.
- ``EventStore`` ≙ the `incoming_data` datasource: parquet-backed,
  append via the declared-schema NDJSON parse
  (sources/ingest.parse_events), malformed rows quarantined — the
  Events API's ``successful_rows`` / ``quarantined_rows`` contract.
  Requests read one immutable ``(events, frontier)`` snapshot per data
  version, which each append advances, so a GET launches no schema or
  frontier job before its own query. The store must be the only writer
  of its path (see the class docstring).
- ``AnalyticsAPIServer`` — stdlib ThreadingHTTPServer; GET pipes return
  the reference's response envelope (plans/envelope.response_envelope ≙
  tutorials/z-score.md:195-225), POST /v0/events appends.

Scale note: this is a *presentation* layer. Every pipe body is the same
lazy DataFrame plan the batch engine runs — Catalyst/pushdown behavior
is identical — and the collect happens only on endpoint-sized results
(the reference's endpoints are filtered/aggregated sets, not scans).
The snapshot is a lazy plan too, not a cache: it fixes which files a
request reads, not their rows in memory. The server itself is
driver-side by design, exactly like the reference's API gateway in
front of ClickHouse.
"""

from __future__ import annotations

import json
import logging
import threading
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any, Callable
from urllib.parse import parse_qs, urlparse

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .plans import copylog as C
from .plans import detectors as D
from .plans.envelope import response_envelope
from .sources.ingest import parse_events

_log = logging.getLogger(__name__)


class PipeError(ValueError):
    """≙ the template language's ``{{ error("...") }}``
    (out_of_range.pipe:28): surfaces as HTTP 400 with {"error": msg}."""


# ---------------------------------------------------------------------------
# Template parameters (≙ {{ Int16(name, default, description, required) }})
# ---------------------------------------------------------------------------

_COERCERS: dict[str, Callable[[str], Any]] = {
    # Int16/Int32 in the reference are range-hint typed; out-of-range
    # values fail coercion like the reference's type layer rejects them.
    "Int16": lambda s: _int_in(s, -(2**15), 2**15 - 1),
    "Int32": lambda s: _int_in(s, -(2**31), 2**31 - 1),
    "Float32": float,
    "String": str,
}


def _int_in(s: str, lo: int, hi: int) -> int:
    v = int(s)
    if not (lo <= v <= hi):
        raise ValueError(f"{v} out of range [{lo}, {hi}]")
    return v


@dataclass(frozen=True)
class ParamSpec:
    """One typed template parameter (≙ out_of_range.pipe:13-15)."""

    name: str
    typ: str  # Int16 | Int32 | Float32 | String
    default: Any = None
    required: bool = False
    description: str = ""

    def bind(self, raw: str | None) -> Any:
        if raw is None:
            if self.required:
                raise PipeError(f"missing required parameter '{self.name}'")
            return self.default
        try:
            return _COERCERS[self.typ](raw)
        except (ValueError, KeyError) as exc:
            raise PipeError(
                f"parameter '{self.name}' expects {self.typ}: {exc}"
            ) from exc


@dataclass(frozen=True)
class Pipe:
    """One published endpoint: name, param specs, DataFrame builder.

    ``builder(store, params) -> DataFrame`` — params arrive already
    coerced/defaulted. ``validate`` runs before the builder and may
    raise PipeError (≙ template-time error(), P6)."""

    name: str
    params: tuple[ParamSpec, ...]
    builder: Callable[["EventStore", dict[str, Any]], DataFrame]
    description: str = ""
    validate: Callable[[dict[str, Any]], None] | None = None

    def bind(self, query: dict[str, list[str]]) -> dict[str, Any]:
        # unknown query params are ignored, like the reference's template
        # layer (token/format are handled by the server layer)
        return {
            p.name: p.bind(query.get(p.name, [None])[0]) for p in self.params
        }

    def scope(self) -> str:
        return f"PIPES:READ:{self.name}"


# ---------------------------------------------------------------------------
# Event store (≙ the incoming_data datasource + Events API append)
# ---------------------------------------------------------------------------


class EventStore:
    """Parquet-backed `incoming_data` with NDJSON append, served from a
    per-append snapshot.

    ``append_ndjson`` is the Events API (ST1): it parses each posted
    line with sources/ingest.parse_events (the declared-schema casts ≙
    the JSONPath mapping, incoming_data.datasource:3-5, so a quoted
    ``"id": "12"`` is stored as 12); rows whose id or ts fail coercion
    are counted ``quarantined`` and not stored — the Events API's
    at-the-edge schema enforcement. ``event_id`` is assigned at append
    time (stable once written) as the deterministic ordering tiebreaker
    the detector windows need.

    Snapshot: reads go to one immutable ``(events, frontier)`` pair per
    data version. The first use reads the store cold (one schema
    inference, then one aggregate for the frontier and the event_id
    resume point); each append swaps in the next version without either
    job — the appended rows' max(ts) rides the aggregate that counts
    them, and the re-read passes the known file schema. The events frame
    is lazy and not persisted; its file listing is fixed when the
    snapshot is taken, so a request reads the version it started on.

    Single-writer contract: this instance is the only writer of ``path``.
    Files another process writes there after the first read stay
    invisible until a new ``EventStore`` opens the path, and the ids this
    instance issues (``_seq``, cached per process) may collide with
    theirs; ``_lock`` serializes only this instance's appends."""

    _EMPTY_SCHEMA = "id int, ts timestamp, value float, event_id long"
    # read errors that mean "no data yet": no path, or no data file in it
    _NO_DATA = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._lock = threading.Lock()
        self._seq: int | None = None  # resumed from the store on first use
        self._snap: tuple[DataFrame, Any] | None = None  # (events, frontier)
        self._file_schema: StructType | None = None

    @staticmethod
    def _shape(df: DataFrame) -> DataFrame:
        """The detector shape (id, ts, value, event_id); reads the
        driver's events.parquet shape too (user_id → id,
        plans/detectors.events_shape)."""
        if "user_id" in df.columns:
            return D.events_shape(df)
        return df.select("id", "ts", "value", "event_id")

    def _load(self) -> None:
        """Cold read of the store; the caller holds ``_lock``. Only a
        store with no data yet reads as empty: any other read error
        (a corrupt file, a failing disk) raises, so event_ids never
        silently restart at 0 over ids already persisted."""
        try:
            raw = self.spark.read.parquet(self.path)
        except AnalysisException as exc:
            if exc.getCondition() not in self._NO_DATA:
                raise
            self._seq = 0
            self._snap = (self.spark.createDataFrame([], self._EMPTY_SCHEMA), None)
            return
        ev = self._shape(raw)
        frontier, last_id = ev.agg(F.max("ts"), F.max("event_id")).first()
        self._file_schema = raw.schema
        self._seq = int(last_id) + 1 if last_id is not None else 0
        self._snap = (ev, frontier)

    def snapshot(self) -> tuple[DataFrame, Any]:
        """The current ``(events, frontier)`` pair, read cold on first
        use; an empty store has frontier ``None``."""
        snap = self._snap
        if snap is None:
            with self._lock:
                if self._snap is None:
                    self._load()
                snap = self._snap
        return snap

    def _next_seq_base(self, n: int) -> int:
        """Reserve n event_ids; the caller holds ``_lock``. Resumes from
        max(event_id)+1 already in the store, so ids stay unique across
        server restarts (they are the deterministic ordering tiebreaker —
        a restart must not reissue ids already persisted)."""
        if self._snap is None:
            self._load()
        base = self._seq
        self._seq += n
        return base

    def _in_file_schema(self, rows: DataFrame) -> DataFrame:
        """Parsed (event_id, id, ts, value) rows in the store's file
        schema, so the snapshot's re-read keeps every value: a
        driver-shaped store keys sensors as ``user_id`` and may hold
        columns the Events API does not fill (written NULL). A new store,
        or one with the rows' own columns, takes the rows as they are."""
        if self._file_schema is None or set(self._file_schema.names) == set(rows.columns):
            return rows
        cols = {"user_id": F.col("id"), **{c: F.col(c) for c in rows.columns}}
        return rows.select(
            *[
                cols.get(f.name, F.lit(None)).cast(f.dataType).alias(f.name)
                for f in self._file_schema.fields
            ]
        )

    def append_ndjson(self, body: str) -> tuple[int, int]:
        lines = [ln for ln in body.splitlines() if ln.strip()]
        if not lines:
            return (0, 0)
        # ONE lock over id reservation, the parquet append and the
        # snapshot swap: concurrent Spark append jobs to one path race on
        # the shared _temporary staging dir (the first commit deletes the
        # second job's files), so ingest appends are serialized —
        # correctness over throughput at this driver-side layer; a
        # production sink would be a streaming source or an ACID table
        # commit instead
        with self._lock:
            base = self._next_seq_base(len(lines))
            raw = self.spark.createDataFrame(
                [(base + i, ln) for i, ln in enumerate(lines)],
                "event_id long, line string",
            )
            # event_id rides through the parse's one projection (no join)
            parsed = parse_events(raw, "line")
            ok = parsed.filter(F.col("id").isNotNull() & F.col("ts").isNotNull())
            events, frontier = self._snap
            # max(ts) in the store's own ts type, so the folded frontier
            # equals what a cold read of the store would compute
            n_ok, appended = ok.agg(
                F.count(F.lit(1)),
                F.max(F.col("ts").cast(events.schema["ts"].dataType)),
            ).first()
            quarantined = len(lines) - n_ok
            if n_ok:
                self._in_file_schema(ok).write.mode("append").parquet(self.path)
                if self._file_schema is None:
                    self._file_schema = ok.schema
                df = self.spark.read.schema(self._file_schema).parquet(self.path)
                self._snap = (
                    self._shape(df),
                    appended if frontier is None else max(frontier, appended),
                )
        return (n_ok, quarantined)

    def events(self) -> DataFrame:
        """Current fact table in the detector shape (id, ts, value,
        event_id). A store with no data yet serves the empty relation
        (endpoints return zero rows, not a 500)."""
        return self.snapshot()[0]

    def frontier(self):
        """Frozen NOW() (SURVEY.md §4.3): max(ts) of the current
        snapshot, ``None`` for an empty store."""
        return self.snapshot()[1]


class MaterializedCopyLog:
    """The copy-pipe architecture, served: scheduled cycles append new
    detections to a materialized ``copy_log`` and the consumer endpoints
    read the materialization instead of recomputing detectors per
    request — exactly the reference's design and its stated rationale
    (copy pipes on a minute cron feeding copy_log,
    content/copies-pipes.md:13-46; `tick()` ≙ one cron firing).

    Each tick runs the fused all-detector log over the store's current
    snapshot and appends only rows whose (ts, id, anomaly_type) key is
    not yet materialized — the at-least-once-append + dedup contract of
    copy_log_duplicates → dedup_log → copy_log
    (tinybird/pipes/dedup_log.pipe:4-6), collapsed into one idempotent
    anti-join append. ``start(interval_s)`` runs ticks on a daemon
    thread (the cron); ``stop()`` halts it. A failing tick is logged and
    kept in ``last_error`` (the most recent failure); ``last_tick_rows``
    holds the row count of the most recent successful cron tick."""

    _LOG_SCHEMA = "id int, ts timestamp, value float, anomaly_type string, note string"

    def __init__(self, store: EventStore, path: str, **detector_params: Any):
        self.store = store
        self.path = path
        self.params = detector_params
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.last_error: Exception | None = None
        self.last_tick_rows: int | None = None

    def log(self) -> DataFrame:
        try:
            return self.store.spark.read.schema(self._LOG_SCHEMA).parquet(
                self.path
            )
        except Exception:  # nothing materialized yet
            return self.store.spark.createDataFrame([], self._LOG_SCHEMA)

    def tick(self) -> int:
        """One copy cycle; returns the number of NEW rows appended."""
        ev, frontier = self.store.snapshot()
        if frontier is None:  # empty store
            return 0
        fresh = C.violations_log(ev, frontier, **self.params)
        with self._lock:
            existing = self.log().select("ts", "id", "anomaly_type")
            # cast to the log's declared schema: a driver-shaped store
            # (user_id bigint) must not write id as INT64, which the next
            # read under _LOG_SCHEMA rejects
            new = fresh.join(
                existing, ["ts", "id", "anomaly_type"], "left_anti"
            ).select(*(
                F.col(name).cast(typ)
                for name, typ in (f.split() for f in self._LOG_SCHEMA.split(","))
            ))
            # evaluate the fused log once: the count and the append both
            # read the checkpointed rows
            new = new.localCheckpoint(eager=False)
            n = new.count()
            if n:
                new.write.mode("append").parquet(self.path)
        return n

    def start(self, interval_s: float = 60.0) -> "MaterializedCopyLog":
        def loop():
            while not self._stop.wait(interval_s):
                try:
                    self.last_tick_rows = self.tick()
                except Exception as exc:  # keep the cron alive, not silent
                    self.last_error = exc
                    _log.exception("copy-log tick into %s failed", self.path)

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)


# ---------------------------------------------------------------------------
# Default pipe registry (one entry per reference endpoint pipe)
# ---------------------------------------------------------------------------


def _opt_sensor(df: DataFrame, params: dict[str, Any]) -> DataFrame:
    """P5: `{% if defined(sensor_id) %} AND id = ... {% end %}`."""
    sid = params.get("sensor_id")
    return df.filter(F.col("id") == sid) if sid is not None else df


def _require_bound(params: dict[str, Any]) -> None:
    """≙ out_of_range.pipe:28 `{{ error("You must define at least one
    threshold...") }}` when neither min nor max is supplied."""
    if params.get("min_value") is None and params.get("max_value") is None:
        raise PipeError(
            "You must define at least one threshold: min_value or max_value"
        )


def default_pipes(*, copy_log: Callable[["EventStore"], DataFrame] | None = None) -> dict[str, Pipe]:
    """The reference's endpoint inventory (readme.md:36-40 plus the
    consumer/UI pipes), over this engine's plan functions. Param names,
    types, and required-ness mirror the .pipe template declarations;
    window defaults are this engine's testdata-scaled ones
    (plans/detectors.py docstrings note the mapping).

    ``copy_log``: optional provider of the deduplicated violations log
    (≙ copy_log datasource, fed by the scheduled copy pipes). When not
    given, monitor/get_anomalies endpoints compute the fused
    violations_log(events) on the fly — same rows, one pass."""

    def log_df(store: EventStore) -> DataFrame:
        if copy_log is not None:
            return copy_log(store)
        return C.violations_log(store.events(), store.frontier())

    day = D.SECONDS_PER_DAY
    p = ParamSpec
    pipes = [
        Pipe(
            "out_of_range",
            (
                p("detect_window_seconds", "Int32", 7 * day,
                  description="Search this many most recent seconds."),
                p("min_value", "Float32", description="Lower threshold."),
                p("max_value", "Float32", description="Upper threshold."),
                p("sensor_id", "Int32", description="Single sensor filter."),
            ),
            lambda s, q: _opt_sensor(
                D.out_of_range(
                    s.events(), s.frontier(),
                    min_value=q["min_value"] if q["min_value"] is not None else float("-inf"),
                    max_value=q["max_value"] if q["max_value"] is not None else float("inf"),
                    detect_window_seconds=q["detect_window_seconds"],
                ), q),
            description="Readings outside fixed [min, max] bounds.",
            validate=_require_bound,
        ),
        Pipe(
            "rate_of_change",
            (
                p("detect_window_seconds", "Int32", 7 * day),
                p("max_slope", "Float32", 0.005,
                  description="Max abs slope per second."),
                p("sensor_id", "Int32"),
            ),
            lambda s, q: _opt_sensor(
                D.rate_of_change(
                    s.events(), s.frontier(),
                    max_slope=q["max_slope"],
                    detect_window_seconds=q["detect_window_seconds"],
                ), q),
            description="Slope between consecutive readings exceeds bound.",
        ),
        Pipe(
            "timeout",
            (
                p("seconds", "Int32", 2 * day,
                  description="Stale if last report older than this."),
                p("sensor_id", "Int32"),
            ),
            lambda s, q: _opt_sensor(
                D.timeout(s.events(), s.frontier(), seconds=q["seconds"]), q
            ),
            description="Sensors that stopped reporting.",
        ),
        Pipe(
            "z_score",
            (
                p("zscore_threshold", "Float32", 2.0),
                p("detect_window_seconds", "Int32", 3 * day),
                p("stats_window_minutes", "Int32", 14 * day // 60),
                p("sensor_id", "Int32"),
            ),
            lambda s, q: _opt_sensor(
                D.z_score(
                    s.events(), s.frontier(),
                    zscore_threshold=q["zscore_threshold"],
                    detect_window_seconds=q["detect_window_seconds"],
                    stats_window_seconds=q["stats_window_minutes"] * 60,
                ), q),
            description="|z| over per-sensor window stats exceeds threshold.",
        ),
        Pipe(
            "iqr",
            (
                p("iqr_multiplier", "Float32", 1.5),
                p("detect_window_seconds", "Int32", 3 * day),
                p("stats_window_minutes", "Int32", 14 * day // 60),
                p("max_per_sensor", "Int32"),
                p("sensor_id", "Int32"),
            ),
            lambda s, q: _opt_sensor(
                D.iqr(
                    s.events(), s.frontier(),
                    iqr_multiplier=q["iqr_multiplier"],
                    detect_window_seconds=q["detect_window_seconds"],
                    stats_window_seconds=q["stats_window_minutes"] * 60,
                    max_per_sensor=q["max_per_sensor"],
                ), q),
            description="Readings outside quartile fences.",
        ),
        Pipe(
            "most_recent",
            (),
            lambda s, q: D.most_recent(s.events()),
            description="Latest report per sensor.",
        ),
        Pipe(
            "ui_ids",
            (),
            lambda s, q: D.ui_ids(s.events()),
            description="Distinct sensor ids.",
        ),
        Pipe(
            "get_data",
            (
                p("minutes", "Int32", 24 * 60),
                p("sensor_id", "Int32"),
            ),
            lambda s, q: D.get_data(
                s.events(), s.frontier(),
                minutes=q["minutes"], sensor_id=q["sensor_id"],
            ),
            description="Raw trailing-minutes slice.",
        ),
        Pipe(
            "data",
            (
                p("hours", "Int32", 24),
                p("sensor_id", "Int32"),
            ),
            lambda s, q: D.data(
                s.events(), s.frontier(),
                hours=q["hours"], sensor_id=q["sensor_id"],
            ),
            description="Raw trailing-hours slice.",
        ),
        Pipe(
            "monitor_logs",
            (
                p("hours", "Int32", 24 * 14),
                p("sensor_id", "Int32"),
            ),
            lambda s, q: C.monitor_logs(
                log_df(s), s.frontier(),
                hours=q["hours"], sensor_id=q["sensor_id"],
            ),
            description="Deduplicated violations log slice.",
        ),
        Pipe(
            "get_anomalies",
            (
                p("hours", "Int32", 24 * 14),
                p("sensor_id", "Int32"),
                p("anomaly_type", "String",
                  description="out-of-range | rate-of-change | timeout | "
                              "z-score | interquartile-range"),
            ),
            lambda s, q: C.get_anomalies(
                log_df(s), s.frontier(),
                hours=q["hours"], sensor_id=q["sensor_id"],
                anomaly_type=q["anomaly_type"],
            ),
            description="Violations log with optional type filter.",
        ),
    ]
    return {pp.name: pp for pp in pipes}


# ---------------------------------------------------------------------------
# Token auth (≙ pipe-scoped READ tokens + Events API append token)
# ---------------------------------------------------------------------------


@dataclass
class TokenAuth:
    """secret → set of scopes. Scopes: ``PIPES:READ:<pipe>``,
    ``DATASOURCES:APPEND:<ds>``, or ``ADMIN`` (grants all) — the
    reference's token model (pipes/*.pipe TOKEN lines; the generator
    appends with a datasource-append token)."""

    grants: dict[str, set[str]] = field(default_factory=dict)

    def allowed(self, secret: str | None, scope: str) -> bool:
        if secret is None:
            return False
        scopes = self.grants.get(secret)
        return scopes is not None and ("ADMIN" in scopes or scope in scopes)

    def known(self, secret: str | None) -> bool:
        """Any valid token — the bar for metadata endpoints (the pipe
        listing): enumerable by credentialed clients only."""
        return secret is not None and secret in self.grants


# ---------------------------------------------------------------------------
# The HTTP server
# ---------------------------------------------------------------------------


class AnalyticsAPIServer:
    """Serve pipes + Events API over a ThreadingHTTPServer.

    ``auth=None`` disables authentication (dev mode); otherwise every
    request needs ``Authorization: Bearer <secret>`` or ``?token=``
    with the matching scope — 403 on failure, exactly one check per
    request. Start with ``start()`` (daemon thread), stop with
    ``shutdown()``."""

    def __init__(
        self,
        store: EventStore,
        *,
        pipes: dict[str, Pipe] | None = None,
        copy_log: "MaterializedCopyLog | None" = None,
        auth: TokenAuth | None = None,
        host: str = "127.0.0.1",
        port: int = 0,
    ):
        self.store = store
        if pipes is not None:
            self.pipes = pipes
        elif copy_log is not None:
            # consumer endpoints read the MATERIALIZED log (the
            # reference's copy-pipe architecture) instead of recomputing
            # the detectors per request
            self.pipes = default_pipes(copy_log=lambda _s: copy_log.log())
        else:
            self.pipes = default_pipes()
        self.auth = auth
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # silence per-request stderr spam
                pass

            def _send(self, code: int, payload: dict[str, Any]) -> None:
                body = json.dumps(payload, default=str).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _token(self, query: dict[str, list[str]]) -> str | None:
                hdr = self.headers.get("Authorization", "")
                if hdr.startswith("Bearer "):
                    return hdr[len("Bearer "):]
                vals = query.get("token")
                return vals[0] if vals else None

            def do_GET(self):  # noqa: N802 (http.server API)
                url = urlparse(self.path)
                query = parse_qs(url.query)
                parts = [x for x in url.path.split("/") if x]
                if parts[:2] == ["v0", "pipes"] and len(parts) == 2:
                    if outer.auth is not None and not outer.auth.known(
                        self._token(query)
                    ):
                        self._send(403, {"error": "invalid token"})
                        return
                    self._send(200, {
                        "pipes": [
                            {"name": pp.name, "description": pp.description,
                             "params": [
                                 {"name": s.name, "type": s.typ,
                                  "default": s.default,
                                  "required": s.required,
                                  "description": s.description}
                                 for s in pp.params
                             ]}
                            for pp in outer.pipes.values()
                        ]
                    })
                    return
                if parts[:2] == ["v0", "pipes"] and len(parts) == 3:
                    name = parts[2]
                    if name.endswith(".json"):
                        name = name[: -len(".json")]
                    pipe = outer.pipes.get(name)
                    if pipe is None:
                        self._send(404, {"error": f"unknown pipe '{name}'"})
                        return
                    if outer.auth is not None and not outer.auth.allowed(
                        self._token(query), pipe.scope()
                    ):
                        self._send(403, {"error": "invalid token scope"})
                        return
                    try:
                        params = pipe.bind(query)
                        if pipe.validate is not None:
                            pipe.validate(params)
                        df = pipe.builder(outer.store, params)
                        self._send(200, response_envelope(df))
                    except PipeError as exc:
                        self._send(400, {"error": str(exc)})
                    except Exception as exc:  # pragma: no cover - defensive
                        self._send(500, {"error": f"{type(exc).__name__}: {exc}"})
                    return
                self._send(404, {"error": "not found"})

            def do_POST(self):  # noqa: N802
                url = urlparse(self.path)
                query = parse_qs(url.query)
                if [x for x in url.path.split("/") if x] != ["v0", "events"]:
                    self._send(404, {"error": "not found"})
                    return
                ds = query.get("name", [None])[0]
                if ds != "incoming_data":
                    self._send(404, {"error": f"unknown datasource '{ds}'"})
                    return
                if outer.auth is not None and not outer.auth.allowed(
                    self._token(query), "DATASOURCES:APPEND:incoming_data"
                ):
                    self._send(403, {"error": "invalid token scope"})
                    return
                length = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(length).decode("utf-8", errors="replace")
                try:
                    ok, bad = outer.store.append_ndjson(body)
                except Exception as exc:  # pragma: no cover - defensive
                    self._send(500, {"error": f"{type(exc).__name__}: {exc}"})
                    return
                self._send(200, {
                    "successful_rows": ok,
                    "quarantined_rows": bad,
                })

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def start(self) -> "AnalyticsAPIServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def shutdown(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread is not None:
            self._thread.join(timeout=10)


def main(argv: list[str] | None = None) -> int:
    """CLI: serve an events parquet directory.

    python -m use_case_real_time_anomaly_detection_spark.serving \
        --events /path/events_parquet --port 8123 [--admin-token SECRET]
    """
    import argparse

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--events", required=True, help="events parquet dir/file")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8123)
    ap.add_argument("--admin-token", default=None,
                    help="enable auth with this ADMIN-scope secret")
    ap.add_argument("--copy-log", default=None, metavar="PATH",
                    help="materialize detections to this parquet path on "
                         "a schedule; consumer endpoints then read the "
                         "materialization (the copy-pipe architecture)")
    ap.add_argument("--copy-interval", type=float, default=60.0,
                    metavar="SECONDS",
                    help="copy cycle cadence (default 60, the reference's "
                         "minute cron)")
    args = ap.parse_args(argv)

    from .session import get_spark

    spark = get_spark()
    store = EventStore(spark, args.events)
    auth = (
        TokenAuth({args.admin_token: {"ADMIN"}})
        if args.admin_token else None
    )
    mat = None
    if args.copy_log:
        mat = MaterializedCopyLog(store, args.copy_log)
        mat.tick()  # prime before serving, then cron
        mat.start(args.copy_interval)
    server = AnalyticsAPIServer(
        store, copy_log=mat, auth=auth, host=args.host, port=args.port
    ).start()
    print(f"serving on http://{args.host}:{server.port}/v0/pipes")
    try:
        threading.Event().wait()
    except KeyboardInterrupt:
        server.shutdown()
        if mat is not None:
            mat.stop()
    return 0


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())
