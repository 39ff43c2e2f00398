"""Unit test of the event-log reducer on a tiny synthetic log.

Run with ``python3 -m pytest perfbench -q`` from the repository root.
"""

from __future__ import annotations

import json

from perfbench.eventlog import core_step, covered_ms, reduce_event_log


def _task(stage: int, launch: int, cpu_ns: int, run_ms: int, gc_ms: int,
          written: int, read: int, spilled: int, peak: int, result: int) -> dict:
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns, "Executor Run Time": run_ms,
            "JVM GC Time": gc_ms, "Peak Execution Memory": peak,
            "Result Size": result, "Disk Bytes Spilled": spilled,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
            "Shuffle Read Metrics": {"Remote Bytes Read": read, "Local Bytes Read": 1},
        },
    }


def _stage(kind: str, sid: int, name: str, submit: int, end: int, parents: list,
           group: str | None) -> dict:
    info = {"Stage ID": sid, "Stage Name": name, "Submission Time": submit,
            "Parent IDs": parents}
    if kind == "SparkListenerStageCompleted":
        info["Completion Time"] = end
    ev = {"Event": kind, "Stage Info": info}
    if group is not None:
        ev["Properties"] = {"spark.jobGroup.id": group}
    return ev


def _log(tmp_path):
    g = {"spark.jobGroup.id": "op0.core"}
    events = [
        {"Event": "SparkListenerLogStart"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Properties": g},
        _stage("SparkListenerStageSubmitted", 0, "groupByKey at /x/core.py:311", 1000, 0, [], "op0.core"),
        _task(0, 1010, 2_000_000_000, 300, 20, 500, 0, 0, 64, 10),
        _task(0, 1030, 1_000_000_000, 200, 0, 700, 0, 8, 128, 10),
        _stage("SparkListenerStageCompleted", 0, "groupByKey at /x/core.py:311", 1000, 1500, [], None),
        _stage("SparkListenerStageSubmitted", 1, "runJob at PythonRDD.scala:191", 1500, 0, [0], "op0.core"),
        _task(1, 1600, 500_000_000, 100, 0, 0, 1200, 0, 32, 99),
        _stage("SparkListenerStageCompleted", 1, "runJob at PythonRDD.scala:191", 1500, 1750, [0], None),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1800},
        # a second job of the same group, overlapping the first
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1700,
         "Properties": g},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2000},
        # an untagged job is ignored
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 3000,
         "Properties": {}},
        _stage("SparkListenerStageSubmitted", 2, "collect at /x/core.py:368", 3000, 0, [], None),
        _task(2, 3001, 9, 9, 9, 9, 9, 9, 9, 9),
        _stage("SparkListenerStageCompleted", 2, "collect at /x/core.py:368", 3000, 3100, [], None),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 3100},
    ]
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return str(path)


def test_reduce_event_log(tmp_path):
    groups = reduce_event_log(_log(tmp_path))
    assert set(groups) == {"op0.core"}
    g = groups["op0.core"]
    assert (g.jobs, g.stages, g.tasks) == (2, 2, 3)
    assert g.job_spans == [(1000, 1800), (1700, 2000)]
    assert g.step_s == {"group": 0.5, "reduce": 0.25}
    assert abs(g.task_wait_s - (0.010 + 0.030 + 0.100)) < 1e-9
    assert abs(g.executor_cpu_s - 3.5) < 1e-9
    assert abs(g.executor_run_s - 0.6) < 1e-9
    assert abs(g.gc_s - 0.02) < 1e-9
    assert g.shuffle_write_bytes == 1200
    assert g.shuffle_read_bytes == 1203  # remote + local, three tasks
    assert g.spill_bytes == 8
    assert g.peak_exec_memory_bytes == 128
    assert g.result_bytes == 119
    assert covered_ms(g.job_spans) == 1000


def test_core_step_groups_by_operation_name():
    assert core_step("groupByKey at /a/core.py:1", True) == "group"
    assert core_step("sortBy at /a/core.py:999", False) == "order"
    assert core_step("collect at /a/core.py:5", True) == "collect"
    assert core_step("runJob at PythonRDD.scala:191", False) == "map"
    assert core_step("runJob at PythonRDD.scala:191", True) == "reduce"


def test_covered_ms_merges_overlaps():
    assert covered_ms([]) == 0
    assert covered_ms([(0, 10), (5, 20), (30, 40), (35, 38)]) == 30
