"""Span self-time arithmetic, the tracer's span tree and the event-log fold."""

from __future__ import annotations

import json

from spans import Span, Tracer, fold_event_log, self_times


def _span(i, parent, start, end):
    return Span(i, f"s{i}", parent, start, end, "rep-0", 0)


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 2, 2.0, 3.0),  # grandchild: not subtracted from span 1
        _span(4, 1, 5.0, 6.0),
    ]
    got = self_times(spans)
    assert got == {1: 6.0, 2: 2.0, 3: 1.0, 4: 1.0}


def test_self_time_merges_overlapping_children_and_clips_to_parent():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 5.0),
        _span(3, 1, 3.0, 7.0),  # overlaps span 2: covered once
        _span(4, 1, 9.0, 12.0),  # runs past the parent's end
    ]
    assert self_times(spans)[1] == 10.0 - (7.0 - 1.0) - (10.0 - 9.0)


def test_tracer_records_parents_run_id_and_restores_wrapped_calls():
    class Box:
        def work(self, x):
            return x + 1

    tracer = Tracer()
    tracer.run_id = "rep-3"
    tracer.wrap(Box, "work", "box.work")
    with tracer.span("outer") as outer:
        assert Box().work(1) == 2
    tracer.restore()
    assert Box().work(1) == 2
    by_name = {s.name: s for s in tracer.spans}
    assert by_name["box.work"].parent == outer
    assert by_name["outer"].parent is None
    assert {s.run_id for s in tracer.spans} == {"rep-3"}
    assert len(tracer.spans) == 2  # the restored method records nothing


def test_begin_end_span_crosses_calls():
    tracer = Tracer()
    tracer.begin("handler")
    with tracer.span("envelope"):
        pass
    tracer.end()
    by_name = {s.name: s for s in tracer.spans}
    assert by_name["envelope"].parent == by_name["handler"].span_id


def _events():
    yield {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
           "Properties": {"spark.jobGroup.id": "span-7"}}
    yield {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
           "Properties": {}}
    for stage, run_ms, py_sent in ((0, 1500, 1000), (0, 500, 24), (1, 250, None), (2, 100, None)):
        acc = [{"Name": "number of output rows", "Update": 5}]
        if py_sent is not None:
            acc.append({"Name": "data sent to Python workers", "Update": py_sent})
        yield {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": acc},
            "Task Metrics": {
                "Executor Run Time": run_ms, "JVM GC Time": 10,
                "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 300},
                "Output Metrics": {"Bytes Written": 7},
            },
        }
    plan = {"nodeName": "Scan parquet", "metrics": [
        {"name": "size of files read", "accumulatorId": 42},
        {"name": "number of files read", "accumulatorId": 43}], "children": []}
    yield {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
           "executionId": 3, "jobGroupId": "span-7", "sparkPlanInfo": plan}
    yield {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
           "executionId": 3, "accumUpdates": [[42, 4096], [43, 2]]}


def test_fold_event_log_attributes_tasks_to_job_groups():
    folded = fold_event_log(json.dumps(e) for e in _events())
    g = folded["span-7"]
    assert g["jobs"] == 1
    assert g["task_s"] == 2.25
    assert abs(g["gc_s"] - 0.03) < 1e-12
    assert g["shuffle_write_bytes"] == 900
    assert g["spill_bytes"] == 9
    assert g["output_bytes"] == 21
    assert g["python_bytes_sent"] == 1024
    assert g["python_stage_task_s"] == 2.0  # stage 0 only
    assert g["scan_bytes"] == 4096
    assert folded[""]["jobs"] == 1 and folded[""]["task_s"] == 0.1


def test_fold_event_log_counts_band_join_rows_only():
    join = {"nodeName": "BroadcastHashJoin",
            "simpleString": "BroadcastHashJoin [band#305, bh#306], [band#356, bh#357], Inner",
            "metrics": [{"name": "number of output rows", "accumulatorId": 55}],
            "children": [{"nodeName": "BroadcastHashJoin",
                          "simpleString": "BroadcastHashJoin [id_a#358L], [id_a#369L], Inner",
                          "metrics": [{"name": "number of output rows", "accumulatorId": 56}],
                          "children": []}]}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 1, "jobGroupId": "span-2", "sparkPlanInfo": join},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "span-2"}},
    ]
    for rows in (30, 12):
        events.append({"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {},
                       "Task Info": {"Accumulables": [
                           {"ID": 55, "Name": "number of output rows", "Update": rows},
                           {"ID": 56, "Name": "number of output rows", "Update": 1000}]}})
    folded = fold_event_log(json.dumps(e) for e in events)
    assert folded["span-2"]["band_join_rows"] == 42
