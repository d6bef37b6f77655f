"""Process, session and measurement plumbing shared by the plain and
the traced run: the peak-RSS sampler, the Spark session lifetime, set-up
with its repeated staging, and the end-to-end measurement itself."""

from __future__ import annotations

import contextlib
import itertools
import os
import statistics
import threading
import time

STAGINGS = 3  # set-up repetitions; setup_s takes their median


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# Process tree memory
# ---------------------------------------------------------------------------


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    driver JVM and the Python workers), sampled every ``every`` s."""

    def __init__(self, every: float = 0.2):
        self.every = every
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_kb(p) for p in [me, *descendants(me)])
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.every)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# Spark session lifetime and the context a workload runs in
# ---------------------------------------------------------------------------


class Ctx:
    """What a workload needs: the session, scratch dirs, the seed, and
    the tracer of a traced run (None otherwise)."""

    def __init__(self, work: str, seed: int, cores: int):
        self.work = work
        self.seed = seed
        self.cores = cores
        self.spark = None
        self.start_s = 0.0
        self.tracer = None
        self.phase = "setup"
        self._dirs = itertools.count()
        self._reps = itertools.count()

    def open(self, cores: int | None = None, eventlog_dir: str | None = None) -> None:
        from use_case_real_time_anomaly_detection_spark.session import get_spark

        confs = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": f"{self.work}/spark-local",
            "spark.sql.warehouse.dir": f"{self.work}/warehouse",
        }
        if eventlog_dir is not None:
            os.makedirs(eventlog_dir, exist_ok=True)
            confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(f"local[{cores or self.cores}]", extra_confs=confs)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def fresh_dir(self, prefix: str) -> str:
        return f"{self.work}/{prefix}-{next(self._dirs)}"

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    @contextlib.contextmanager
    def rep(self, name: str):
        """One repetition: under a tracer, a root span ``rep:<name>``
        whose run id every span opened inside it shares."""
        if self.tracer is None:
            yield
            return
        self.tracer.run_id = f"{self.phase}-{next(self._reps)}"
        with self.tracer.span(f"rep:{name}"):
            yield


def shutdown_jvm(timeout: float = 60.0) -> None:
    """End the gateway JVM this process launched and wait until every
    descendant process (JVM, Python daemon and workers) has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout)
        except Exception:
            proc.kill()
            proc.wait(timeout)
    deadline = time.time() + timeout
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


# ---------------------------------------------------------------------------
# One measured run
# ---------------------------------------------------------------------------


def stage_and_warm(ctx: Ctx, wl, m, stagings: int = STAGINGS) -> tuple[float, float]:
    """Stage the inputs ``stagings`` times, keeping the last copy, then run
    the untimed warm-up repetition; returns (median staging s, warm-up s)."""
    times = []
    for _ in range(stagings):
        root = ctx.fresh_dir("input")
        t0 = time.perf_counter()
        wl.stage(root)
        times.append(time.perf_counter() - t0)
    ctx.phase = "warm"
    t0 = time.perf_counter()
    wl.start()
    wl.warm(m)
    return median(times), time.perf_counter() - t0


def end_to_end(ctx: Ctx, wl_cls, seconds: float, cores: int | None = None,
               stagings: int = STAGINGS):
    """Session start, set-up, warm-up and the measuring window; returns
    (Measurement, metrics as {name: (value, unit)})."""
    from workloads import Measurement

    m = Measurement()
    wl = wl_cls(ctx)
    with RssSampler() as rss:
        ctx.open(cores)
        stage_s, warm_s = stage_and_warm(ctx, wl, m, stagings)
        setup_s = ctx.start_s + stage_s + warm_s
        rss.peak_kb = 0  # peak over the measured window only
        ctx.phase = "rep"
        try:
            if seconds > 0:
                wl.measure(seconds, m)
        finally:
            wl.close()
        m.peak_rss_mb = rss.peak_mb
    ctx.close()
    metrics = {
        "setup_s": (setup_s, "s"),
        "run_s": (median(m.reps), "s"),
        "latency_p50_ms": (m.latency_s() * 1000.0, "ms"),
        "throughput_per_s": (m.items / m.wall if m.wall else 0.0, "1/s"),
    }
    return m, metrics


def summary_line(name: str, m, metrics: dict) -> str:
    """The end-to-end figures of this workload under the names a reader
    of the metric table expects, with units and the failure base."""

    def pct(xs, q):
        xs = sorted(xs)
        return xs[min(len(xs) - 1, int(q * len(xs)))] if xs else 0.0

    v = {k: val for k, (val, _) in metrics.items()}
    parts = [f"setup_s={v['setup_s']:.3f} s"]
    if name == "serve_sensors":
        gets = [s for samples in m.ops.values() for s in samples]
        beyond = len(gets) - int(0.95 * len(gets)) - 1
        parts += [
            f"request_p50_ms={v['latency_p50_ms']:.1f} ms "
            f"(median over the {len(m.ops)} probes of each probe's median)",
            f"request_p95_ms={pct(gets, 0.95) * 1000:.1f} ms "
            f"(n={len(gets)} GETs, {max(beyond, 0)} beyond it)",
            f"requests_per_sec={v['throughput_per_s']:.3f} req/s (1 client, closed loop)",
            f"append_p50_ms={median(m.extra.get('append_s', [])) * 1000:.1f} ms",
            f"tick_s={median(m.extra.get('tick_s', [])):.3f} s",
        ]
    else:
        parts.append(f"run_s={v['run_s']:.3f} s")
        if name.startswith("validate"):
            parts.append(f"clips_per_sec={v['throughput_per_s']:.1f} clips/s")
    parts.append(f"peak_rss_mb={m.peak_rss_mb:.0f} MB (not gated)")
    frac = m.failed / m.attempted if m.attempted else 0.0
    parts.append(f"failed_frac={frac:.4f} ratio ({m.failed} failed of {m.attempted} "
                 f"operations and oracle checks)")
    return f"{name}: " + "; ".join(parts)
