"""Reduce an uncompressed Spark event log to per-job-group counters.

The benchmark tags every operation's jobs with a job group
(``spark.jobGroup.id``), one group per step of the operation (for
example ``op7.build`` and ``op7.exec``).  :func:`reduce_event_log`
returns one :class:`GroupStats` per group with the numbers the
per-layer metrics are made of: jobs, stages and tasks; job spans;
stage time by the operation that created each stage; task wait;
executor CPU, run and GC time; shuffle, spill, peak execution memory
and result bytes.

Stages are attributed through the job-group property Spark copies onto
each ``SparkListenerStageSubmitted`` event, so a stage shared by
several jobs is counted once, under the job that ran it.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

#: stage-name operation (the word before " at ") → core.py step;
#: see :func:`core_step`
_CORE_STEPS = {"groupByKey": "group", "sortBy": "order", "collect": "collect"}


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    #: (submit_ms, end_ms) of every job, epoch milliseconds
    job_spans: list = field(default_factory=list)
    #: core.py step (map/group/order/reduce/collect) → stage seconds
    step_s: dict = field(default_factory=dict)
    task_wait_s: float = 0.0
    executor_cpu_s: float = 0.0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    peak_exec_memory_bytes: int = 0
    result_bytes: int = 0


def core_step(stage_name: str, has_parents: bool) -> str:
    """The ``MapReduce.__call__`` step a completed stage belongs to.

    Grouped by the operation named in the stage name, never by line
    number: ``groupByKey`` → group, ``sortBy`` → order, ``collect`` →
    collect.  Any other stage (the ``first()`` peeks run as
    ``runJob``, or a bare ``flatMap``) runs a user hook: the mapper
    when the stage reads no shuffle output, the reducer when it does.
    """
    op = stage_name.split(" at ", 1)[0]
    if op in _CORE_STEPS:
        return _CORE_STEPS[op]
    return "reduce" if has_parents else "map"


def _events(path: str):
    with open(path) as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def _group_id(ev: dict) -> str | None:
    return (ev.get("Properties") or {}).get("spark.jobGroup.id")


def reduce_event_log(path: str) -> dict[str, GroupStats]:
    """Per-job-group counters of one application's event log."""
    groups: dict[str, GroupStats] = {}
    job_start: dict[int, tuple[str, int]] = {}
    stage_start: dict[int, tuple[str, int]] = {}
    for ev in _events(path):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            gid = _group_id(ev)
            if gid is not None:
                job_start[ev["Job ID"]] = (gid, ev["Submission Time"])
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_start:
            gid, submit = job_start[ev["Job ID"]]
            g = groups.setdefault(gid, GroupStats())
            g.jobs += 1
            g.job_spans.append((submit, ev["Completion Time"]))
        elif kind == "SparkListenerStageSubmitted":
            gid = _group_id(ev)
            info = ev["Stage Info"]
            if gid is not None:
                stage_start[info["Stage ID"]] = (gid, info["Submission Time"])
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if info["Stage ID"] not in stage_start:
                continue
            gid, submit = stage_start[info["Stage ID"]]
            g = groups.setdefault(gid, GroupStats())
            g.stages += 1
            step = core_step(info["Stage Name"], bool(info.get("Parent IDs")))
            secs = (info["Completion Time"] - submit) / 1000
            g.step_s[step] = g.step_s.get(step, 0.0) + secs
        elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_start:
            m = ev.get("Task Metrics")
            if m is None:  # a task lost with its executor reports none
                continue
            gid, submit = stage_start[ev["Stage ID"]]
            g = groups.setdefault(gid, GroupStats())
            g.tasks += 1
            g.task_wait_s += max(0, ev["Task Info"]["Launch Time"] - submit) / 1000
            g.executor_cpu_s += m["Executor CPU Time"] / 1e9
            g.executor_run_s += m["Executor Run Time"] / 1000
            g.gc_s += m["JVM GC Time"] / 1000
            sw, sr = m["Shuffle Write Metrics"], m["Shuffle Read Metrics"]
            g.shuffle_write_bytes += sw["Shuffle Bytes Written"]
            g.shuffle_read_bytes += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            g.spill_bytes += m["Disk Bytes Spilled"]
            g.peak_exec_memory_bytes = max(
                g.peak_exec_memory_bytes, m["Peak Execution Memory"]
            )
            g.result_bytes += m["Result Size"]
    return groups


def covered_ms(spans: list[tuple[int, int]]) -> int:
    """Milliseconds covered by the union of ``(start, end)`` spans."""
    total, end = 0, None
    for s, e in sorted(spans):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total
