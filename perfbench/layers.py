"""Per-layer metrics of a traced run.

Layers are named after the repository's modules: ``core`` (the
``MapReduce`` parity layer), ``registry`` (the query builders),
``catalyst`` (Spark's analysis, optimization and planning), ``exec``
(job execution), ``cache`` (keyed and scan caches) and ``driver``
(driver time no Spark job covers).

Each operation gets one row, built from the benchmark's own spans
around each step (``op<N>.core`` / ``.build`` / ``.plan`` / ``.exec``)
and the event-log counters of the job groups with those names.  A
metric's run value is the mean over the operations the layer applies
to (0 when none does, e.g. ``core`` on the catalog workloads).
"""

from __future__ import annotations

import json
import os

from perfbench.eventlog import GroupStats, covered_ms, reduce_event_log
from perfbench.workloads import PARITY

#: name → (unit, better, the end-to-end metric and workload it should move)
PER_LAYER = {
    "core.call_s": ("s", "lower", "op_p50_s, records_per_s on mapreduce"),
    "core.jobs_per_call": ("count", "lower", "op_p50_s, records_per_s on mapreduce"),
    "core.stages_per_call": ("count", "lower", "op_p50_s, records_per_s on mapreduce"),
    "core.map_s": ("s", "lower", "op_p50_s on mapreduce"),
    "core.group_s": ("s", "lower", "op_p50_s on mapreduce"),
    "core.order_s": ("s", "lower", "op_p50_s on mapreduce"),
    "core.reduce_s": ("s", "lower", "op_p50_s on mapreduce"),
    "core.collect_s": ("s", "lower", "op_p50_s on mapreduce"),
    "registry.build_s": ("s", "lower", "op_p50_s on catalog-cold"),
    "registry.build_jobs": ("count", "lower", "op_p50_s on catalog-cold; about 0 on catalog-warm"),
    "catalyst.analysis_ms": ("ms", "lower", "op_p50_s on catalog-warm and catalog-cold"),
    "catalyst.optimization_ms": ("ms", "lower", "op_p50_s on catalog-warm and catalog-cold"),
    "catalyst.planning_ms": ("ms", "lower", "op_p50_s on catalog-warm and catalog-cold"),
    "exec.wall_s": ("s", "lower", "op_p50_s, op_tail_s on catalog-warm and catalog-cold"),
    "exec.jobs": ("count", "lower", "op_p50_s, op_tail_s on catalog-warm and catalog-cold"),
    "exec.stages": ("count", "lower", "op_p50_s, op_tail_s on catalog-warm and catalog-cold"),
    "exec.tasks": ("count", "lower", "op_p50_s, op_tail_s on catalog-warm and catalog-cold"),
    "exec.task_wait_s": ("s", "lower", "op_p50_s, op_tail_s on catalog-warm and catalog-cold"),
    "exec.executor_cpu_s": ("s", "lower", "cpu_s_per_op on every workload"),
    "exec.executor_run_s": ("s", "lower", "cpu_s_per_op on every workload"),
    "exec.gc_s": ("s", "lower", "cpu_s_per_op on every workload"),
    "exec.shuffle_write_bytes": ("bytes", "lower", "op_p50_s on mapreduce and catalog-warm"),
    "exec.shuffle_read_bytes": ("bytes", "lower", "op_p50_s on mapreduce and catalog-warm"),
    "exec.spill_bytes": ("bytes", "lower", "op_p50_s on mapreduce and catalog-warm"),
    "exec.peak_exec_memory_bytes": ("bytes", "lower", "op_p50_s on mapreduce and catalog-warm"),
    "exec.result_bytes": ("bytes", "lower", "op_p50_s on mapreduce and catalog-warm"),
    "cache.storage_bytes": ("bytes", "lower", "peak_rss_mb on catalog-cold; trades against op_p50_s on catalog-warm"),
    "driver.self_s": ("s", "lower", "op_p50_s on catalog-warm and catalog-cold"),
    "trace.ops_per_s": ("1/s", "higher", "none: divided by the untraced ops_per_s it gives the tracing overhead"),
}

_EXEC_SUMS = (
    "jobs", "stages", "tasks", "task_wait_s", "executor_cpu_s", "executor_run_s",
    "gc_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "result_bytes",
)
_CORE_STEPS = ("map", "group", "order", "reduce", "collect")


def op_row(op: dict, groups: dict[str, GroupStats]) -> dict[str, float]:
    """Per-layer numbers of one operation; a layer that does not apply
    to the operation is left out."""
    steps = op["steps"]
    mine = [g for gid, g in groups.items()
            if gid.startswith(op["op"] + ".") and not gid.endswith(".check")]
    row: dict[str, float] = {}
    # a generated job is one MapReduce call; a parity entry's builder
    # makes its call eagerly, so its build step is the call
    core_step = "core" if "core" in steps else ("build" if op["name"] in PARITY else None)
    if core_step is not None and core_step in steps:
        core = groups.get(f"{op['op']}.{core_step}", GroupStats())
        row["core.call_s"] = steps[core_step]
        row["core.jobs_per_call"] = core.jobs
        row["core.stages_per_call"] = core.stages
        for step in _CORE_STEPS:
            row[f"core.{step}_s"] = core.step_s.get(step, 0.0)
    if "build" in steps:
        row["registry.build_s"] = steps["build"]
        row["registry.build_jobs"] = groups.get(f"{op['op']}.build", GroupStats()).jobs
    for phase, ms in op.get("catalyst_ms", {}).items():
        row[f"catalyst.{phase}_ms"] = ms
    exec_s = covered_ms([s for g in mine for s in g.job_spans]) / 1000
    row["exec.wall_s"] = exec_s
    for name in _EXEC_SUMS:
        row[f"exec.{name}"] = sum(getattr(g, name) for g in mine)
    row["exec.peak_exec_memory_bytes"] = max(
        (g.peak_exec_memory_bytes for g in mine), default=0
    )
    if "storage_bytes" in op:
        row["cache.storage_bytes"] = op["storage_bytes"]
    row["driver.self_s"] = op["wall_s"] - exec_s
    return row


def per_layer(result: dict, events_dir: str) -> dict[str, tuple[float, str]]:
    """Run-level per-layer metrics; also writes every operation's row
    to ``<run dir>/trace.json``."""
    groups = reduce_event_log(os.path.join(events_dir, result["app_id"]))
    ops = result["ops"]
    rows = [op_row(op, groups) for op in ops]
    with open(os.path.join(result["run_dir"], "trace.json"), "w") as f:
        json.dump([{**op, "layers": row} for op, row in zip(ops, rows)], f, indent=1)
    out = {}
    for name, (unit, _, _) in PER_LAYER.items():
        vals = [r[name] for r in rows if name in r]
        out[name] = (sum(vals) / len(vals) if vals else 0.0, unit)
    done = sum(1 for op in ops if op["ok"])
    out["trace.ops_per_s"] = (done / sum(op["wall_s"] for op in ops), "1/s")
    return out
