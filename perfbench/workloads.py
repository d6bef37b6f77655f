"""The four benchmark workloads, their seeded inputs and their oracles.

Each workload stages its inputs from the seed (``stage``), runs one
untimed warm-up repetition that is also checked against an oracle
(``warm``), then repeats its unit of work until the measuring window
closes (``measure``). Every call into the package goes through its
public functions; nothing in the package is changed.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import random
import shutil
import time
import urllib.error
import urllib.request
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import median

@dataclass
class Measurement:
    """What one measuring window produced.

    ``reps``: wall seconds of each repetition; ``ops``: latencies in
    seconds of the operations a user waits for (a runner pass, a runner
    cycle, a GET, a query), by kind; ``items``: clips, GETs or documents the
    window completed; ``extra``: named sample lists for the summary;
    ``peak_rss_mb``: peak RSS of the process tree during the window."""

    reps: list[float] = field(default_factory=list)
    ops: dict[str, list[float]] = field(default_factory=dict)
    items: int = 0
    wall: float = 0.0
    attempted: int = 0
    failed: int = 0
    extra: dict[str, list[float]] = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)
    peak_rss_mb: float = 0.0

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 5:
            self.errors.append(what[:300])

    def op(self, kind: str, seconds: float) -> None:
        self.ops.setdefault(kind, []).append(seconds)

    def latency_s(self) -> float:
        """Median over operation kinds of each kind's median latency, so
        that every probe, query or cycle weighs the same. A plain median
        over a mix of fast and slow kinds lands between their clusters
        and swings with the sample."""
        return median([median(v) for v in self.ops.values()])

    def absorb_counts(self, other: "Measurement") -> None:
        """Take over another measurement's attempts and failures only."""
        self.attempted += other.attempted
        self.failed += other.failed
        self.errors += other.errors[: 5 - len(self.errors)]


def _dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Spark's hidden files excluded."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def repeat_within(seconds: float):
    """Yield once per repetition for as long as the next one, if it takes
    as long as the last, still ends inside the window; at least once.
    Stopping before the window would overrun keeps the number of
    repetitions from flipping between runs when one repetition takes
    about as long as the window."""
    t0 = time.perf_counter()
    while True:
        r0 = time.perf_counter()
        yield
        now = time.perf_counter()
        if now - t0 + (now - r0) > seconds:
            return


class Workload:
    """A workload's life: ``stage`` its inputs, ``start`` anything that
    serves, ``warm`` once (checked), ``measure``, then ``close``."""

    name = ""

    def __init__(self, ctx):
        self.ctx = ctx

    def start(self) -> None:
        pass

    def close(self) -> None:
        pass


def _quiet_runner(argv: list[str]) -> dict:
    """Run ``runner.main`` and return the JSON line it prints."""
    from use_case_real_time_anomaly_detection_spark import runner

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = runner.main(argv)
    if rc != 0:
        raise RuntimeError(f"runner exited {rc}: {buf.getvalue()[-300:]}")
    return json.loads(buf.getvalue().strip().splitlines()[-1])


# ---------------------------------------------------------------------------
# Clip validation
# ---------------------------------------------------------------------------

# Row-local detectors: the flagged clip set is a pure function of the
# synthesizer's (partition, seq) plan, the construction
# tests/test_clips_engine.py uses as its oracle.
_ROW_LOCAL = {
    "out-of-range": lambda pl: (pl.dur_ms < 200) | (pl.dur_ms > 2000),
    "value-set-sr_hz": lambda pl: ~pl.sr_hz.isin([8000, 16000]),
    "value-set-codec": lambda pl: ~pl.codec.isin(["pcm16", "mulaw"]),
    "unique": lambda pl: pl.dup,
    "referential": lambda pl: pl.orphan,
    "transcript": lambda pl: pl.bad_transcript & ~pl.orphan,
}
_AUDIO = {"audio-decode": lambda pl: pl.bad_audio | (pl.codec == "opus")}


def expected_flags(spec, partitions, with_audio: bool) -> dict[str, set]:
    from use_case_real_time_anomaly_detection_spark.sources.synth import plan_partition

    rules = {**_ROW_LOCAL, **(_AUDIO if with_audio else {})}
    out = {det: set() for det in rules}
    for p in partitions:
        plan = plan_partition(p, spec)
        for det, pred in rules.items():
            out[det] |= set(plan.loc[pred(plan), "clip_id"])
    return out


def store_flags(spark, ckpt: str, detectors) -> dict[str, set]:
    from pyspark.sql import functions as F

    from use_case_real_time_anomaly_detection_spark.sources.tables import get_catalog
    from use_case_real_time_anomaly_detection_spark.streaming.checkpoint import (
        CheckpointStore,
    )

    rows = (
        CheckpointStore(get_catalog(spark, ckpt)).violations()
        .filter(F.col("detector").isin(list(detectors)))
        .select("detector", "clip_id").distinct().collect()
    )
    out = {det: set() for det in detectors}
    for r in rows:
        out[r["detector"]].add(r["clip_id"])
    return out


def verdict_digest(spark, ckpt: str) -> str:
    """sha256 over the store's lineage rows, run ids left out."""
    from use_case_real_time_anomaly_detection_spark.sources.tables import get_catalog
    from use_case_real_time_anomaly_detection_spark.streaming.checkpoint import (
        CheckpointStore,
    )

    lin = CheckpointStore(get_catalog(spark, ckpt)).lineage().drop("run_id")
    rows = sorted(json.dumps(r.asDict(), sort_keys=True, default=str) for r in lin.collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


class _Validate(Workload):
    """Shared staging and checks of the two clip-validation workloads."""

    with_audio = False
    partitions = 4
    clips_per_partition = 200

    def __init__(self, ctx):
        super().__init__(ctx)
        from use_case_real_time_anomaly_detection_spark.sources.synth import SynthSpec

        self.spec = SynthSpec(
            seed=ctx.seed, partitions=self.partitions,
            clips_per_partition=self.clips_per_partition, sr_hz=8000,
        )
        self.digest: str | None = None
        self.last_ckpt: str | None = None

    def _write_corpus(self, root: str) -> None:
        from use_case_real_time_anomaly_detection_spark.sources.synth import (
            generate_clips,
            generate_manifest,
        )

        spark = self.ctx.spark
        generate_clips(spark, self.spec).write.parquet(f"{root}/clips")
        generate_manifest(spark, self.spec).write.parquet(f"{root}/manifest")

    def fresh_ckpt(self) -> str:
        """A new, empty checkpoint dir; the previous one is deleted."""
        if self.last_ckpt is not None:
            shutil.rmtree(self.last_ckpt, ignore_errors=True)
        self.last_ckpt = self.ctx.fresh_dir("ckpt")
        return self.last_ckpt

    def record_store(self, ckpt: str, m: Measurement) -> None:
        files, size = _dir_bytes(ckpt)
        m.extra.setdefault("ckpt_files", []).append(files)
        m.extra.setdefault("ckpt_bytes", []).append(size)

    def check(self, ckpt: str, m: Measurement) -> None:
        """Flagged sets of the row-local detectors against the plan
        oracle, and the verdict digest against the warm-up's."""
        want = expected_flags(self.spec, range(self.partitions), self.with_audio)
        m.attempted += len(want) + 1
        try:
            got = store_flags(self.ctx.spark, ckpt, want)
            digest = verdict_digest(self.ctx.spark, ckpt)
        except Exception as exc:  # e.g. the last repetition wrote no store
            m.fail(f"reading the checkpoint store: {exc}")
            return
        for det in want:
            if got[det] != want[det]:
                m.fail(f"{det}: {len(got[det] ^ want[det])} clips differ from the oracle")
        if self.digest is None:
            self.digest = digest
        elif digest != self.digest:
            m.fail(f"verdict digest {digest} != warm-up {self.digest}")

    def warm(self, m: Measurement) -> None:
        """One checked repetition whose timing is discarded."""
        scratch = Measurement()
        self.check(self.rep(scratch), m)
        m.absorb_counts(scratch)

    def measure(self, seconds: float, m: Measurement) -> None:
        t0 = time.perf_counter()
        for _ in repeat_within(seconds):
            ckpt = self.rep(m)
        m.wall = time.perf_counter() - t0
        self.check(ckpt, m)


class ValidateFull(_Validate):
    """The runner's batch path with the full default ruleset, payload
    decode included, over a fresh checkpoint dir each repetition."""

    name = "validate_full"
    with_audio = True
    partitions = 4
    clips_per_partition = 150

    def stage(self, root: str) -> None:
        from use_case_real_time_anomaly_detection_spark.operators.config import dump_ruleset
        from use_case_real_time_anomaly_detection_spark.plans.clips import default_rules

        self._write_corpus(root)
        # the default ruleset, with the payload oracle keyed to this seed
        dump_ruleset(default_rules(with_audio=True, seed=self.ctx.seed), f"{root}/rules.json")
        self.root = root
        self.n_clips = pq.ParquetDataset(f"{root}/clips").read(columns=["clip_id"]).num_rows
        self.input_bytes = _dir_bytes(f"{root}/clips")[1]

    def argv(self, ckpt: str) -> list[str]:
        return [
            "--clips", f"{self.root}/clips", "--manifest", f"{self.root}/manifest",
            "--checkpoint-dir", ckpt, "--no-resume", "--rules", f"{self.root}/rules.json",
        ]

    def rep(self, m: Measurement) -> str:
        ckpt = self.fresh_ckpt()
        t0 = time.perf_counter()
        m.attempted += 1
        try:
            with self.ctx.rep(self.name):
                _quiet_runner(self.argv(ckpt))
        except Exception as exc:  # a failed pass is counted, not fatal
            m.fail(f"runner: {exc}")
            return ckpt
        dt = time.perf_counter() - t0
        m.reps.append(dt)
        m.op("pass", dt)
        m.items += self.n_clips
        self.record_store(ckpt, m)
        return ckpt


class ValidateIncremental(_Validate):
    """Resumed runner cycles: the corpus arrives as ``cycles`` batches of
    new partitions, and one repetition runs one cycle per batch into a
    checkpoint dir that starts empty. Metadata-only ruleset with the
    quarantine table, so planning, job count, the resume lookup and the
    store writes dominate while the payload layer does nothing."""

    name = "validate_incremental"
    cycles = 3
    per_batch = 2
    partitions = cycles * per_batch
    clips_per_partition = 150

    def stage(self, root: str) -> None:
        from pyspark.sql import functions as F

        self._write_corpus(root)
        spark = self.ctx.spark
        clips = spark.read.parquet(f"{root}/clips")
        self.batches = []
        for k in range(self.cycles):
            tags = [f"c{p:03d}" for p in range(self.per_batch * (k + 1))]
            path = f"{root}/upto-{k}"
            clips.filter(F.substring("clip_id", 1, 4).isin(tags)).write.parquet(path)
            self.batches.append(path)
        self.root = root
        self.n_clips = clips.count()
        self.input_bytes = _dir_bytes(f"{root}/clips")[1]

    def argv(self, k: int, ckpt: str) -> list[str]:
        return [
            "--clips", self.batches[k], "--manifest", f"{self.root}/manifest",
            "--checkpoint-dir", ckpt, "--no-audio", "--quarantine",
        ]

    def rep(self, m: Measurement) -> str:
        ckpt = self.fresh_ckpt()
        t0 = time.perf_counter()
        validated = 0
        for k in range(self.cycles):
            m.attempted += 1
            c0 = time.perf_counter()
            try:
                with self.ctx.rep(self.name):
                    out = _quiet_runner(self.argv(k, ckpt))
            except Exception as exc:
                m.fail(f"runner cycle {k}: {exc}")
                return ckpt
            m.op(f"cycle-{k}", time.perf_counter() - c0)
            validated += out["partitions_validated"]
            present = self.per_batch * (k + 1)
            m.extra.setdefault("skip_ratio", []).append(
                1 - out["partitions_validated"] / present)
        m.reps.append(time.perf_counter() - t0)
        m.items += self.n_clips
        self.record_store(ckpt, m)
        m.attempted += 1
        if validated != self.partitions:
            m.fail(f"resume validated {validated} partitions, want {self.partitions}")
        return ckpt


# ---------------------------------------------------------------------------
# Serving
# ---------------------------------------------------------------------------


# Shape of the sf0.1 test data's ``events.parquet``: 100,000 rows from 1,500
# users, timestamps uniform over 30 days from 2024-01-01 with event_id in
# timestamp order, and values exponential with mean 50, rounded to cents
# (quartiles 14.6, 34.8 and 68.9).
SF01_EVENTS = 100_000
SF01_SENSORS = 1500


def sf01_events(seed: int, n: int = SF01_EVENTS) -> pa.Table:
    """A seeded twin of the sf0.1 events in the event store's own schema
    (id int, ts timestamp, value float, event_id bigint): the same row
    count and the same distributions, with ``user_id`` as the sensor id."""
    rng = np.random.default_rng(seed)
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    value = np.round(rng.exponential(50.0, n), 2)
    return pa.table({
        "id": pa.array(rng.integers(0, SF01_SENSORS, n).astype(np.int32)),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]")),
        "value": pa.array(value.astype(np.float32), pa.float32()),
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
    })


# The probe set: the five detector pipes with and without a sensor, the
# latest-report pipe, and the two consumer pipes over the materialized log.
PROBES = [
    ("out_of_range", {"max_value": "150"}),
    ("out_of_range", {"max_value": "150", "sensor_id": "3"}),
    ("rate_of_change", {}),
    ("rate_of_change", {"sensor_id": "5"}),
    ("timeout", {}),
    ("timeout", {"sensor_id": "1"}),
    ("z_score", {}),
    ("z_score", {"sensor_id": "7"}),
    ("iqr", {}),
    ("iqr", {"sensor_id": "9"}),
    ("most_recent", {}),
    ("monitor_logs", {}),
    ("get_anomalies", {"sensor_id": "4"}),
]


def _as_envelope(rows) -> list[dict]:
    """Rows as the response envelope serializes them (datetimes as
    strings, booleans as 1/0), through the same JSON round trip."""
    out = []
    for r in rows:
        out.append({
            k: v.isoformat(sep=" ") if hasattr(v, "isoformat")
            else int(v) if isinstance(v, bool) else v
            for k, v in r.asDict(recursive=True).items()
        })
    return json.loads(json.dumps(out, default=str))


def _canon(rows) -> list[str]:
    """Order- and float-noise-insensitive form of envelope rows."""
    out = []
    for r in rows:
        out.append(json.dumps(
            {k: (round(v, 4) if isinstance(v, float) else v) for k, v in r.items()},
            sort_keys=True, default=str))
    return sorted(out)


class ServeSensors(Workload):
    """A closed loop of one client against ``AnalyticsAPIServer`` on
    loopback, over an ``EventStore`` of the sf0.1 events twin primed with
    a ``MaterializedCopyLog``. One round sends every probe once, one
    NDJSON append and one copy-log ``tick()``, in a seeded order; one
    repetition is ``rounds`` rounds.
    The tick runs on the client's thread, once a round: a fixed cadence
    that never overlaps a request, so request latency carries no
    tick-contention noise."""

    name = "serve_sensors"
    events = SF01_EVENTS
    # rounds in one repetition: each probe's latency is then the median of
    # two samples some seconds apart, which a short stall of the host
    # moves by half as much as a single sample
    rounds = 2

    def __init__(self, ctx):
        super().__init__(ctx)
        self.rng = random.Random(ctx.seed)
        self.server = None
        self.pipes = None  # the server's default pipes unless a tracer wraps them
        self.next_ts = None

    def stage(self, root: str) -> None:
        from use_case_real_time_anomaly_detection_spark.serving import (
            EventStore,
            MaterializedCopyLog,
        )

        table = sf01_events(self.ctx.seed, self.events)
        os.makedirs(f"{root}/events")
        pq.write_table(table, f"{root}/events/part-0.parquet")
        self.store = EventStore(self.ctx.spark, f"{root}/events")
        self.log = MaterializedCopyLog(self.store, f"{root}/copy_log")
        last = table.column("ts").to_numpy().max()
        self.next_ts = last + np.timedelta64(1, "s")

    def start(self) -> None:
        from use_case_real_time_anomaly_detection_spark.serving import AnalyticsAPIServer

        self.server = AnalyticsAPIServer(
            self.store, copy_log=self.log, pipes=self.pipes).start()
        self.base = f"http://127.0.0.1:{self.server.port}"

    def close(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server = None

    def _get(self, pipe: str, params: dict) -> tuple[int, dict | None]:
        qs = "&".join(f"{k}={v}" for k, v in params.items())
        try:
            with urllib.request.urlopen(f"{self.base}/v0/pipes/{pipe}.json?{qs}", timeout=120) as r:
                return r.status, json.loads(r.read())
        except urllib.error.HTTPError as exc:
            return exc.code, None
        except OSError:  # refused, reset or timed out: no status at all
            return 0, None

    def _append(self) -> tuple[int, dict | None]:
        lines = []
        for i in range(5):
            ts = str(self.next_ts).replace("T", " ")
            self.next_ts = self.next_ts + np.timedelta64(37, "s")
            lines.append(json.dumps({"id": (i * 7) % SF01_SENSORS, "timestamp": ts,
                                     "value": f"{self.rng.uniform(1, 90):.2f}"}))
        req = urllib.request.Request(
            f"{self.base}/v0/events?name=incoming_data",
            data="\n".join(lines).encode(), method="POST")
        try:
            with urllib.request.urlopen(req, timeout=120) as r:
                return r.status, json.loads(r.read())
        except urllib.error.HTTPError as exc:
            return exc.code, None
        except OSError:
            return 0, None

    def warm(self, m: Measurement) -> None:
        """Prime the materialized log, then check every probe against its
        plan evaluated directly, before any append changes the store. Each
        pipe has then run twice; on the 100,000-row store a further
        untimed round read no faster than the measured ones."""
        from use_case_real_time_anomaly_detection_spark.serving import default_pipes

        m.attempted += 1
        try:
            self.log.tick()
        except Exception as exc:
            m.fail(f"priming tick: {exc}")
        # the oracle uses the package's own pipes, never a traced wrapper
        oracle = default_pipes(copy_log=lambda _s: self.log.log())
        for pipe_name, params in PROBES:
            m.attempted += 1
            code, body = self._get(pipe_name, params)
            if code != 200:
                m.fail(f"probe {pipe_name} {params}: status {code}")
                continue
            pipe = oracle[pipe_name]
            df = pipe.builder(self.store, pipe.bind({k: [v] for k, v in params.items()}))
            if _canon(body["data"]) != _canon(_as_envelope(df.collect())):
                m.fail(f"probe {pipe_name} {params}: rows differ from the plan")

    def _op(self, op, m: Measurement) -> None:
        """One closed-loop operation: a GET of a probe, an append, or a
        copy-log tick."""
        q0 = time.perf_counter()
        m.attempted += 1
        if op == "tick":
            try:
                self.log.tick()
                m.extra.setdefault("tick_s", []).append(time.perf_counter() - q0)
            except Exception as exc:
                m.fail(f"tick: {exc}")
            return
        with self.ctx.span("client:append" if op == "append" else "client:get"):
            code, body = self._append() if op == "append" else self._get(*op)
        dt = time.perf_counter() - q0
        if code != 200:
            m.fail(f"{op}: status {code}")
        elif op == "append":
            if body.get("successful_rows") != 5:
                m.fail(f"append: {body}")
            m.extra.setdefault("append_s", []).append(dt)
        else:
            m.op(f"{op[0]}:{','.join(op[1])}", dt)
            m.items += 1

    def _round(self, m: Measurement) -> None:
        """Every probe once, one append and one tick, in a seeded order."""
        order = list(PROBES)
        self.rng.shuffle(order)
        for op in ("append", "tick"):
            order.insert(self.rng.randrange(len(order) + 1), op)
        for op in order:
            self._op(op, m)

    def measure(self, seconds: float, m: Measurement) -> None:
        t0 = time.perf_counter()
        for _ in repeat_within(seconds):
            r0 = time.perf_counter()
            with self.ctx.rep("rounds"):
                for _ in range(self.rounds):
                    self._round(m)
            m.reps.append(time.perf_counter() - r0)
        m.wall = time.perf_counter() - t0


# ---------------------------------------------------------------------------
# Corpus dedup
# ---------------------------------------------------------------------------

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en"] * 8 + ["zh", "zh", "zh", "es", "es", "es", "fr", "fr", "fr", "de", "de", "de"]


def documents(seed: int, n: int) -> pa.Table:
    """Seeded documents in the driver corpus schema (doc_id, text, lang,
    source, n_chars): 10-100 words from a 31-word vocabulary, with about
    one in twenty a near-duplicate (an earlier text plus " dup")."""
    rng = random.Random(seed)
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS) for _ in range(rng.randint(10, 100))))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in range(n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


TEXT_QUERIES = ["gopher_quality", "simhash_pairs", "minhash_lsh", "ngram_jaccard", "ingest_gate"]


class DedupCorpus(Workload):
    """The corpus dedup/text query set through a noop sink: five
    registered queries over a staged sf dir, plus the perceptual image
    near-dup pair over a seeded subset of the synthetic image corpus."""

    name = "dedup_corpus"
    docs = 500
    images_per_partition = 40

    def stage(self, root: str) -> None:
        from use_case_real_time_anomaly_detection_spark.sources.synth import (
            SynthSpec,
            image_dhash_expected_pandas,
            image_dup_corpus_pandas,
        )

        os.makedirs(f"{root}/sf")
        docs = documents(self.ctx.seed, self.docs)
        pq.write_table(docs, f"{root}/sf/documents.parquet")
        spec = SynthSpec(partitions=2, clips_per_partition=self.images_per_partition)
        corpus = image_dup_corpus_pandas(spec)
        keep = np.random.default_rng(self.ctx.seed).random(len(corpus)) < 0.8
        corpus = corpus[keep].reset_index(drop=True)
        pq.write_table(pa.Table.from_pandas(corpus, preserve_index=False), f"{root}/images.parquet")
        dh = image_dhash_expected_pandas(spec)
        self.expected_dhash = dh[dh["item_id"].isin(set(corpus["item_id"]))]
        self.root = root
        self.n_docs = docs.num_rows

    def queries(self) -> list:
        """(name, builder) of each query. Building counts as query time:
        some operators run eager jobs while they plan."""
        import __spark_entry__ as entry

        from use_case_real_time_anomaly_detection_spark.functions.multimodal import (
            image_dhash,
            image_dup_pairs,
        )

        spark, qs, sf = self.ctx.spark, entry.queries(), f"{self.root}/sf"
        out = [(name, lambda fn=qs[name]: fn(spark, sf)) for name in TEXT_QUERIES]
        out.append(("image_dup", lambda: image_dup_pairs(
            image_dhash(spark.read.parquet(f"{self.root}/images.parquet")), max_hamming=6)))
        return out

    def _image_oracle(self):
        import pandas as pd

        dh = self.expected_dhash.dropna(subset=["dhash"]).sort_values("item_id")
        ids, hs = dh["item_id"].tolist(), [int(h) for h in dh["dhash"]]
        rows = [
            (ids[i], ids[j], bin(hs[i] ^ hs[j]).count("1"))
            for i in range(len(ids)) for j in range(i + 1, len(ids))
            if bin(hs[i] ^ hs[j]).count("1") <= 6
        ]
        return pd.DataFrame(rows, columns=["id_a", "id_b", "hamming"]).astype(
            {"hamming": "int32"})

    def warm(self, m: Measurement) -> None:
        """Run each query once and compare it with its oracle: the DuckDB
        ``oracle_sql()`` twin over the staged dir, the brute-force pair
        scan for the image pairs."""
        import duckdb

        import __spark_entry__ as entry
        from tools.parity_check import kind_mismatch, normalize
        from use_case_real_time_anomaly_detection_spark.session import release_pinned

        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{self.root}/sf/documents.parquet')")
        oracles = entry.oracle_sql()
        self.result_rows = {}
        for name, build in self.queries():
            m.attempted += 1
            try:
                got = build().toPandas()
                want = con.sql(oracles[name]).df() if name in TEXT_QUERIES else self._image_oracle()
            except Exception as exc:
                m.fail(f"{name}: {exc}")
                continue
            finally:
                release_pinned(self.ctx.spark)
            self.result_rows[name] = len(got)
            got = got.reindex(sorted(got.columns), axis=1)
            want = want.reindex(sorted(want.columns), axis=1)
            if kind_mismatch(got, want) or not normalize(got).equals(normalize(want)):
                m.fail(f"{name}: {len(got)} rows differ from the oracle's {len(want)}")
        con.close()

    def _query(self, name: str, build, m: Measurement) -> float:
        """Run one query into the noop sink; returns its seconds (0 on
        failure). Pinned blocks are released after, untimed."""
        from use_case_real_time_anomaly_detection_spark.session import release_pinned

        m.attempted += 1
        q0 = time.perf_counter()
        try:
            with self.ctx.span(f"query:{name}"):
                build().write.format("noop").mode("overwrite").save()
        except Exception as exc:
            m.fail(f"{name}: {exc}")
            return 0.0
        finally:
            dt = time.perf_counter() - q0
            release_pinned(self.ctx.spark)
        m.op(name, dt)
        return dt

    def measure(self, seconds: float, m: Measurement) -> None:
        for _ in repeat_within(seconds):
            p0 = time.perf_counter()
            with self.ctx.rep("pass"):
                busy = sum(self._query(name, build, m) for name, build in self.queries())
            m.reps.append(busy)
            m.items += self.n_docs
            m.wall += time.perf_counter() - p0
        m.wall = max(m.wall, 1e-9)


WORKLOADS = {w.name: w for w in (ValidateFull, ValidateIncremental, ServeSensors, DedupCorpus)}
