"""Span recorder and Spark event-log fold for the traced benchmark run.

A span is one timed call into a layer of the package: name, start, end,
parent span and the run id shared by every span of one repetition. While
a span is open on a thread, Spark jobs submitted from that thread carry
the span's job group, so the event log attributes each job, stage and
task to the innermost open span. Spans stay in memory and are written
out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import re
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    start: float
    end: float
    run_id: str
    thread: int

    @property
    def seconds(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval covered by
    its direct children (overlapping children are merged, so concurrent
    children are not subtracted twice)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.span_id] = s.seconds - covered
    return out


class Tracer:
    """Records spans; with ``spark`` given, also tags Spark jobs with the
    innermost open span through ``setJobGroup``."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self.run_id = "setup"
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def group_of(self, span_id: int) -> str:
        return f"span-{span_id}"

    def _stack(self) -> list[tuple]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span_id: int | None, name: str = "") -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span_id is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(self.group_of(span_id), name)

    def begin(self, name: str, parent: int | None = None) -> int:
        """Open a span on this thread; ``end`` closes it."""
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1][0]
        span_id = next(self._ids)
        stack.append((span_id, name, parent, time.perf_counter()))
        self._set_group(span_id, name)
        return span_id

    def end(self) -> None:
        """Close the innermost open span of this thread."""
        end = time.perf_counter()
        stack = self._stack()
        span_id, name, parent, start = stack.pop()
        self._set_group(*(stack[-1][:2] if stack else (None,)))
        with self._lock:
            self.spans.append(Span(span_id, name, parent, start, end, self.run_id,
                                   threading.get_ident()))

    @contextlib.contextmanager
    def span(self, name: str):
        span_id = self.begin(name)
        try:
            yield span_id
        finally:
            self.end()

    def patch(self, owner: object, attr: str, replacement) -> None:
        """Set ``owner.attr``; ``restore`` puts the original back."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._patched.append((owner, attr, original))
        setattr(owner, attr, replacement)

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Run ``owner.attr`` (a module function or a class method)
        inside a span named ``name``."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self.patch(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def dump(self, path: str) -> None:
        """Write every span with its self time, one JSON object a line."""
        selfs = self_times(self.spans)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps({**asdict(s), "self_s": selfs[s.span_id]}) + "\n")


# ---------------------------------------------------------------------------
# Event log fold
# ---------------------------------------------------------------------------

_PY_SENT = "data sent to Python workers"
_FILES_READ = "size of files read"  # a scan node's metric, reported by the driver
_OUT_ROWS = "number of output rows"
# the MinHash LSH candidate join of functions.dedup, keyed on (band, bh)
_BAND_JOIN = re.compile(r"Join \[band#\d+L?, bh#\d+L?\]")


def _plan_metrics(node: dict, names: dict[int, str], band_rows: set[int]) -> None:
    """Name every metric accumulator of a plan tree, and collect the
    output-row accumulators of band-key joins into ``band_rows``."""
    band = bool(_BAND_JOIN.search(node.get("simpleString", "")))
    for metric in node.get("metrics", []):
        names[metric["accumulatorId"]] = metric["name"]
        if band and metric["name"] == _OUT_ROWS:
            band_rows.add(metric["accumulatorId"])
    for child in node.get("children", []):
        _plan_metrics(child, names, band_rows)


def fold_event_log(lines) -> dict[str, dict[str, float]]:
    """Fold Spark event-log JSON lines into totals per job group.

    Per group: ``jobs``, ``task_s`` (executor run time), ``gc_s``,
    ``shuffle_write_bytes``, ``spill_bytes`` (memory + disk),
    ``scan_bytes`` (file bytes the scans read), ``output_bytes``,
    ``python_bytes_sent``, ``python_stage_task_s`` (run time of tasks
    in stages that fed a Python worker) and ``band_join_rows`` (rows out
    of the MinHash band-key join). Jobs with no group fold under
    ``""``."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    acc_names: dict[int, str] = {}
    band_rows: set[int] = set()
    totals: dict[str, dict[str, float]] = {}
    py_stages: set[int] = set()
    stage_task_s: dict[int, float] = {}

    def bucket(group: str) -> dict[str, float]:
        return totals.setdefault(group, {
            "jobs": 0, "task_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "scan_bytes": 0, "output_bytes": 0,
            "python_bytes_sent": 0, "python_stage_task_s": 0.0, "band_join_rows": 0,
        })

    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            bucket(group)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            b = bucket(stage_group.get(sid, ""))
            tm = ev.get("Task Metrics") or {}
            run_s = tm.get("Executor Run Time", 0) / 1000.0
            b["task_s"] += run_s
            b["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            b["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            b["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0)
            b["output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
            stage_task_s[sid] = stage_task_s.get(sid, 0.0) + run_s
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == _PY_SENT:
                    b["python_bytes_sent"] += int(acc.get("Update") or 0)
                    py_stages.add(sid)
                elif acc.get("ID") in band_rows:
                    b["band_join_rows"] += int(acc.get("Update") or 0)
        elif kind.endswith("SQLExecutionStart"):
            exec_group[ev["executionId"]] = ev.get("jobGroupId") or ""
            _plan_metrics(ev.get("sparkPlanInfo") or {}, acc_names, band_rows)
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            _plan_metrics(ev.get("sparkPlanInfo") or {}, acc_names, band_rows)
        elif kind.endswith("SQLDriverAccumUpdates") or kind.endswith("DriverAccumUpdates"):
            b = bucket(exec_group.get(ev.get("executionId"), ""))
            for acc_id, value in ev.get("accumUpdates", []):
                if acc_names.get(acc_id) == _FILES_READ:
                    b["scan_bytes"] += value
    for sid in py_stages:
        bucket(stage_group.get(sid, ""))["python_stage_task_s"] += stage_task_s.get(sid, 0.0)
    return totals
