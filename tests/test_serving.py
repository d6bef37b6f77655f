"""HTTP publication layer (serving.py) — end-to-end over a live server.

≙ the reference's API surface: endpoint URLs + params
(/root/reference/readme.md:36-40), pipe-scoped tokens
(pipes/out_of_range.pipe:6-8), template-time error()
(out_of_range.pipe:28), Events API NDJSON append with
successful/quarantined row counts
(data-generator/anomaly-dataset-live.py:204-208).
"""

from __future__ import annotations

import datetime as dt
import json
import logging
import threading
import urllib.error
import urllib.request

import pytest

from use_case_real_time_anomaly_detection_spark.plans import detectors as D
from use_case_real_time_anomaly_detection_spark.serving import (
    AnalyticsAPIServer,
    EventStore,
    MaterializedCopyLog,
    ParamSpec,
    PipeError,
    TokenAuth,
    default_pipes,
)

NDJSON = "\n".join(
    json.dumps(e)
    for e in [
        # sensor 1: steady values then a spike (out-of-range + z-score bait)
        {"id": 1, "timestamp": "2024-01-01T00:00:00", "value": "100.0"},
        {"id": 1, "timestamp": "2024-01-01T00:01:00", "value": "101.0"},
        {"id": 1, "timestamp": "2024-01-01T00:02:00", "value": "99.0"},
        {"id": 1, "timestamp": "2024-01-01T00:03:00", "value": "100.5"},
        {"id": 1, "timestamp": "2024-01-01T00:04:00", "value": "900.0"},
        # sensor 2: stopped reporting early (timeout bait)
        {"id": 2, "timestamp": "2024-01-01T00:00:30", "value": "50.0"},
        # malformed rows -> quarantined by the declared-schema parse
        {"id": "not-an-int", "timestamp": "2024-01-01T00:05:00", "value": "1"},
        {"id": 3, "timestamp": "garbage", "value": "1"},
    ]
)
N_GOOD, N_BAD = 6, 2


def _get(url: str, token: str | None = None):
    req = urllib.request.Request(url)
    if token:
        req.add_header("Authorization", f"Bearer {token}")
    with urllib.request.urlopen(req) as r:
        return r.status, json.loads(r.read())


def _get_err(url: str, token: str | None = None):
    try:
        return _get(url, token)
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _post(url: str, body: str, token: str | None = None):
    req = urllib.request.Request(url, data=body.encode(), method="POST")
    if token:
        req.add_header("Authorization", f"Bearer {token}")
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    store = EventStore(spark, str(tmp_path_factory.mktemp("events") / "pq"))
    auth = TokenAuth(
        {
            "admin-secret": {"ADMIN"},
            "oor-read": {"PIPES:READ:out_of_range"},
            "append-only": {"DATASOURCES:APPEND:incoming_data"},
        }
    )
    srv = AnalyticsAPIServer(store, auth=auth).start()
    yield srv
    srv.shutdown()


@pytest.fixture(scope="module")
def base(server):
    return f"http://127.0.0.1:{server.port}"


@pytest.fixture(scope="module")
def ingested(base):
    code, resp = _post(
        f"{base}/v0/events?name=incoming_data", NDJSON, token="append-only"
    )
    assert code == 200
    return resp


def test_events_api_counts(ingested):
    assert ingested == {
        "successful_rows": N_GOOD,
        "quarantined_rows": N_BAD,
    }


def test_endpoint_envelope_and_rows(base, ingested):
    code, body = _get(
        f"{base}/v0/pipes/out_of_range.json"
        "?min_value=0&max_value=200&detect_window_seconds=600",
        token="oor-read",
    )
    assert code == 200
    # the reference's response envelope shape (tutorials/z-score.md:195-225)
    assert set(body) == {"meta", "data", "rows", "statistics"}
    assert body["rows"] == 1
    (row,) = body["data"]
    assert row["id"] == 1 and row["value"] == 900.0
    assert {m["name"] for m in body["meta"]} == {
        "id", "ts", "value", "min_value", "max_value",
    }
    assert "elapsed" in body["statistics"]


def test_endpoint_matches_direct_plan(spark, base, server, ingested):
    """Server result == calling the plan function directly."""
    code, body = _get(
        f"{base}/v0/pipes/timeout.json?seconds=120", token="admin-secret"
    )
    assert code == 200
    ev = server.store.events()
    direct = D.timeout(ev, D.frontier_ts(ev), seconds=120).collect()
    assert body["rows"] == len(direct) == 1
    assert body["data"][0]["id"] == direct[0]["id"] == 2


def test_param_coercion_error_is_400(base, ingested):
    code, body = _get_err(
        f"{base}/v0/pipes/timeout.json?seconds=abc", token="admin-secret"
    )
    assert code == 400 and "seconds" in body["error"]


def test_template_error_no_thresholds_is_400(base, ingested):
    # ≙ out_of_range.pipe:28 {{ error(...) }} when neither bound given
    code, body = _get_err(
        f"{base}/v0/pipes/out_of_range.json", token="oor-read"
    )
    assert code == 400 and "threshold" in body["error"]


def test_unknown_pipe_404(base):
    code, body = _get_err(f"{base}/v0/pipes/nope.json", token="admin-secret")
    assert code == 404


def test_token_scope_enforced(base, ingested):
    # no token
    code, _ = _get_err(f"{base}/v0/pipes/out_of_range.json?min_value=0")
    assert code == 403
    # wrong scope: read token cannot append
    code, _ = _post(f"{base}/v0/events?name=incoming_data", "{}", token="oor-read")
    assert code == 403
    # append token cannot read other pipes
    code, _ = _get_err(
        f"{base}/v0/pipes/most_recent.json", token="append-only"
    )
    assert code == 403
    # pipe-scoped token reads its own pipe only
    code, _ = _get(
        f"{base}/v0/pipes/out_of_range.json?min_value=0", token="oor-read"
    )
    assert code == 200
    code, _ = _get_err(f"{base}/v0/pipes/ui_ids.json", token="oor-read")
    assert code == 403


def test_sensor_id_filter(base, ingested):
    code, body = _get(
        f"{base}/v0/pipes/get_data.json?minutes=600&sensor_id=2",
        token="admin-secret",
    )
    assert code == 200
    assert body["rows"] == 1 and body["data"][0]["id"] == 2


def test_monitor_logs_computes_fused_log(base, ingested):
    """monitor/get_anomalies fall back to the fused violations_log."""
    code, body = _get(
        f"{base}/v0/pipes/get_anomalies.json?hours=48", token="admin-secret"
    )
    assert code == 200
    types = {r["anomaly_type"] for r in body["data"]}
    # the spike trips out-of-range (default bounds) at minimum
    assert "out-of-range" in types
    # anomaly_type String param filters
    code, body = _get(
        f"{base}/v0/pipes/get_anomalies.json?hours=48&anomaly_type=out-of-range",
        token="admin-secret",
    )
    assert {r["anomaly_type"] for r in body["data"]} == {"out-of-range"}


def test_pipe_listing(base):
    code, body = _get(f"{base}/v0/pipes", token="admin-secret")
    assert code == 200
    names = {p["name"] for p in body["pipes"]}
    assert {"out_of_range", "rate_of_change", "timeout", "z_score", "iqr",
            "most_recent", "ui_ids", "get_data", "data", "monitor_logs",
            "get_anomalies"} <= names


def test_paramspec_binding_unit():
    p = ParamSpec("x", "Int16", default=5)
    assert p.bind(None) == 5 and p.bind("7") == 7
    with pytest.raises(PipeError):
        p.bind("99999")  # out of Int16 range
    with pytest.raises(PipeError):
        ParamSpec("y", "Int32", required=True).bind(None)


def test_driver_events_shape_store(spark, tmp_path):
    """EventStore reads the driver's events.parquet shape (user_id->id)."""
    store = EventStore(spark, "/root/testdata/sf0.001/events.parquet")
    ev = store.events()
    assert set(ev.columns) == {"id", "ts", "value", "event_id"}
    pipes = default_pipes()
    df = pipes["ui_ids"].builder(store, {})
    assert df.count() > 0


def test_materialized_copy_log_cycle(spark, tmp_path):
    """The copy-pipe architecture: tick() materializes detections, the
    consumer endpoint reads the materialization (NOT a per-request
    recompute), and re-ticking is idempotent (at-least-once append +
    key dedup, the copy_log contract)."""
    from use_case_real_time_anomaly_detection_spark.serving import (
        AnalyticsAPIServer,
        EventStore,
        MaterializedCopyLog,
    )

    store = EventStore(spark, str(tmp_path / "ev"))
    store.append_ndjson(NDJSON)
    mat = MaterializedCopyLog(store, str(tmp_path / "copylog"))
    n1 = mat.tick()
    assert n1 > 0
    assert mat.tick() == 0  # idempotent: same detections, nothing new
    srv = AnalyticsAPIServer(store, copy_log=mat).start()
    try:
        base = f"http://127.0.0.1:{srv.port}"
        code, body = _get(f"{base}/v0/pipes/get_anomalies.json?hours=48")
        assert code == 200 and body["rows"] == n1
        # endpoint reads the MATERIALIZATION: new events don't surface
        # until the next tick
        store.append_ndjson(
            json.dumps({"id": 9, "timestamp": "2024-01-01T00:04:30",
                        "value": "99999"})
        )
        code, body2 = _get(f"{base}/v0/pipes/get_anomalies.json?hours=48")
        assert body2["rows"] == n1
        n2 = mat.tick()
        assert n2 > 0  # the out-of-range spike materializes on tick
        code, body3 = _get(f"{base}/v0/pipes/get_anomalies.json?hours=48")
        assert body3["rows"] == n1 + n2
    finally:
        srv.shutdown()


# ---------------------------------------------------------------------------
# Per-append snapshot of the event store
# ---------------------------------------------------------------------------


def _spike(ts: str, sensor: int = 1, value: str = "5000") -> str:
    return json.dumps({"id": sensor, "timestamp": ts, "value": value})


def _rows(df) -> list:
    return sorted(map(tuple, df.collect()), key=repr)


def test_snapshot_reads_run_no_jobs(spark, tmp_path):
    """events()/frontier() on an unchanged store, and again after an
    append, launch no Spark job: no re-listing inference, no max(ts)."""
    store = EventStore(spark, str(tmp_path / "ev"))
    store.append_ndjson(NDJSON)
    store.events(), store.frontier()

    sc = spark.sparkContext
    sc.setJobGroup("snapshot-unchanged", "probe")
    store.events(), store.frontier()
    sc.setJobGroup("snapshot-append", "probe")
    store.append_ndjson(_spike("2024-01-01T00:09:00"))
    sc.setJobGroup("snapshot-after-append", "probe")
    store.events(), store.frontier()
    sc.setJobGroup("snapshot-done", "probe")

    tracker = sc.statusTracker()
    assert tracker.getJobIdsForGroup("snapshot-unchanged") == []
    assert tracker.getJobIdsForGroup("snapshot-after-append") == []


def test_snapshot_pipes_match_a_fresh_store(spark, tmp_path):
    """Every pipe over the advanced snapshot returns the rows the same
    pipe returns over a cold read of the same path."""
    path = str(tmp_path / "ev")
    store = EventStore(spark, path)
    store.append_ndjson(NDJSON)
    store.append_ndjson(_spike("2024-01-01T00:06:00", sensor=2, value="-40"))
    fresh = EventStore(spark, path)
    assert store.frontier() == fresh.frontier()
    for name, pipe in default_pipes().items():
        params = pipe.bind({"min_value": ["0"], "max_value": ["200"],
                            "seconds": ["60"], "hours": ["48"]})
        assert _rows(pipe.builder(store, params)) == _rows(
            pipe.builder(fresh, params)
        ), name


def test_append_advances_the_served_snapshot(spark, tmp_path):
    path = str(tmp_path / "ev")
    store = EventStore(spark, path)
    store.append_ndjson(NDJSON)
    srv = AnalyticsAPIServer(store).start()
    try:
        url = (f"http://127.0.0.1:{srv.port}/v0/pipes/out_of_range.json"
               "?max_value=1000&detect_window_seconds=600")
        assert _get(url)[1]["rows"] == 0
        store.append_ndjson(_spike("2024-01-01T00:10:00", sensor=4))
        code, body = _get(url)
        assert code == 200 and body["rows"] == 1
        assert body["data"][0]["id"] == 4 and body["data"][0]["value"] == 5000.0
    finally:
        srv.shutdown()
    cold = EventStore(spark, path).events().agg({"ts": "max"}).first()[0]
    assert store.frontier() == cold == EventStore(spark, path).frontier()
    assert str(cold) == "2024-01-01 00:10:00"


def test_concurrent_appends_and_gets_lose_nothing(spark, tmp_path):
    store = EventStore(spark, str(tmp_path / "ev"))
    store.append_ndjson(NDJSON)
    srv = AnalyticsAPIServer(store).start()
    base = f"http://127.0.0.1:{srv.port}"
    codes = []

    def appender():
        for k in range(4):
            body = "\n".join(
                _spike(f"2024-01-01T01:{k:02d}:{i:02d}", sensor=10 + i, value="7")
                for i in range(5)
            )
            codes.append(_post(f"{base}/v0/events?name=incoming_data", body)[0])

    def reader():
        for pipe in ("most_recent", "timeout", "get_data", "rate_of_change"):
            codes.append(_get_err(f"{base}/v0/pipes/{pipe}.json")[0])

    threads = [threading.Thread(target=f) for f in (appender, reader, reader)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        srv.shutdown()
    assert not any(t.is_alive() for t in threads)
    assert len(codes) == 12 and set(codes) == {200}
    ev = store.events()
    assert ev.count() == N_GOOD + 20
    assert ev.select("event_id").distinct().count() == N_GOOD + 20
    assert store.frontier() == EventStore(spark, store.path).frontier()


def test_corrupt_store_raises_on_append_and_issues_no_id(spark, tmp_path):
    """Only a missing store reads as empty: a read error must not
    restart event_id at 0 over ids already persisted."""
    path = tmp_path / "ev"
    path.mkdir()
    (path / "part-0.parquet").write_bytes(b"not a parquet file" * 8)
    store = EventStore(spark, str(path))
    with pytest.raises(Exception):
        store.append_ndjson(_spike("2024-01-01T00:00:00"))
    assert store._seq is None
    assert sorted(p.name for p in path.iterdir()) == ["part-0.parquet"]
    with pytest.raises(Exception):
        store.events()


def test_copy_log_ticks_twice_on_a_bigint_sensor_store(spark, tmp_path):
    """The driver's events.parquet shape keys sensors as user_id bigint;
    the log must still be written as id int, or the second tick's read
    of the log fails (PARQUET_COLUMN_DATA_TYPE_MISMATCH)."""
    schema = "user_id bigint, ts timestamp, value double, event_id long"
    path = str(tmp_path / "ev")

    def write(rows):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(path)

    t0 = dt.datetime(2024, 1, 1)
    write([(1, t0 + dt.timedelta(minutes=i), 100.0, i) for i in range(5)]
          + [(2, t0, 900.0, 5)])
    log_path = str(tmp_path / "copylog")
    n1 = MaterializedCopyLog(EventStore(spark, path), log_path).tick()
    assert n1 > 0
    write([(3, t0 + dt.timedelta(minutes=9), 5000.0, 6)])
    # a new store: the rows above came from another writer
    n2 = MaterializedCopyLog(EventStore(spark, path), log_path).tick()
    assert n2 > 0
    log = MaterializedCopyLog(EventStore(spark, path), log_path).log()
    assert log.count() == n1 + n2
    assert log.filter("id = 3 AND anomaly_type = 'out-of-range'").count() == 1


def test_append_to_a_bigint_sensor_store_keeps_the_sensor_id(spark, tmp_path):
    """Appends land in the store's file schema: on the driver's
    user_id bigint shape an appended row reads back with its sensor id,
    from the served snapshot and from a fresh store on the same path."""
    schema = "user_id bigint, ts timestamp, value double, event_id long"
    path = str(tmp_path / "ev")
    t0 = dt.datetime(2024, 1, 1)
    spark.createDataFrame([(1, t0, 100.0, 0)], schema).write.parquet(path)
    store = EventStore(spark, path)
    assert store.append_ndjson(_spike("2024-01-01T00:05:00", sensor=7)) == (1, 0)
    for ev in (store.events(), EventStore(spark, path).events()):
        assert _rows(ev.filter("event_id = 1").select("id", "value")) == [(7, 5000.0)]


def test_append_parses_a_quoted_id_like_the_declared_schema(spark, tmp_path):
    """The Events API parses through sources/ingest.parse_events: a
    quoted numeric id is stored and served by the next GET, while a
    non-numeric id is still quarantined."""
    store = EventStore(spark, str(tmp_path / "ev"))
    store.append_ndjson(NDJSON)
    srv = AnalyticsAPIServer(store).start()
    try:
        body = "\n".join([
            json.dumps({"id": "12", "timestamp": "2024-01-01T00:10:00", "value": "5000"}),
            json.dumps({"id": "x", "timestamp": "2024-01-01T00:10:00", "value": "5000"}),
        ])
        assert store.append_ndjson(body) == (1, 1)
        code, got = _get(
            f"http://127.0.0.1:{srv.port}/v0/pipes/out_of_range.json"
            "?max_value=1000&detect_window_seconds=600"
        )
    finally:
        srv.shutdown()
    assert code == 200 and got["rows"] == 1
    assert got["data"][0]["id"] == 12 and got["data"][0]["value"] == 5000.0


def test_copy_log_cron_logs_and_records_failures(spark, tmp_path, caplog):
    mat = MaterializedCopyLog(EventStore(spark, str(tmp_path / "ev")),
                              str(tmp_path / "copylog"))
    calls = []
    done = threading.Event()

    def tick():
        calls.append(1)
        if len(calls) <= 2:
            raise RuntimeError(f"boom {len(calls)}")
        done.set()
        return 7

    mat.tick = tick
    with caplog.at_level(logging.ERROR):
        mat.start(0.01)
        try:
            assert done.wait(10)
        finally:
            mat.stop()
    assert not mat._thread.is_alive()
    assert len(calls) >= 3  # the loop survived both failures
    assert isinstance(mat.last_error, RuntimeError)
    assert str(mat.last_error) == "boom 2"
    assert mat.last_tick_rows == 7
    failures = [r for r in caplog.records if "copy-log tick" in r.getMessage()]
    assert len(failures) == 2 and all(r.exc_info for r in failures)
