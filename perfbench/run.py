#!/usr/bin/env python3
"""spark-tinymr benchmark: one closed-loop client, one operation at a time.

Usage (from the repository root)::

    python3 perfbench/run.py --workload mapreduce --seed 1 --seconds 10 --trace 0

Workloads:

* ``mapreduce`` — ``MapReduce.__call__`` on seeded Python lists (Zipf
  word count, skewed secondary sort, two-stage re-keying; each small
  and large) plus the ``parity_word_count`` and ``parity_secondary_sort``
  registry entries.
* ``catalog-warm`` — a fixed mix of registered queries over one
  generated catalog, keyed caches built by an untimed pass first.
* ``catalog-cold`` — keyed-cache consumers, each operation on a catalog
  written just before it, so every cache builds.

An operation is one ``MapReduce`` call, or one query build plus its
execution into the ``noop`` sink.  Spark runs as ``local[nproc]``.
The seed fixes the generated inputs and the shuffled order of every
pass over the mix; the loop runs whole passes until ``--seconds`` have
gone by.  Every operation's output is checked outside its timed
window: generated jobs against plain-Python dicts, registry queries
against their DuckDB oracle through ``tools/check_correctness.py``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` turns on
Spark's event log, tags every operation's jobs with a job group,
reduces the log to per-layer metrics (``perfbench/layers.py``) and
writes the per-operation rows to ``.perfbench-work/``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench-work")
WORKLOADS = ("mapreduce", "catalog-warm", "catalog-cold")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def program_present() -> bool:
    need = ("mr_python_spark/core.py", "__spark_entry__.py", "tools/check_correctness.py")
    return all(os.path.isfile(os.path.join(ROOT, f)) for f in need)


def prepare_env(run_dir: str, trace: bool) -> str:
    """Keep every file Spark, the JVM and Python write inside
    ``run_dir``; return the event-log directory (used when tracing)."""
    tmp = os.path.join(run_dir, "tmp")
    events = os.path.join(run_dir, "eventlog")
    for d in (tmp, events):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # every JVM, the spark-submit launcher too: temp files in tmp, no
    # hsperfdata files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            # the default codec is zstd, which the Python standard library cannot read
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + events,
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"
    return events


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples above it, never below the median: with 20 samples or fewer
    no percentile above the median has ten samples beyond it, and the
    median is reported."""
    s = sorted(values)
    n = len(s)
    if n <= 20:
        return statistics.median(s), 50.0
    return s[n - 11], 100.0 * (n - 10) / n


def main(argv) -> int:
    args = parse_args(argv)
    if not program_present():
        print("perfbench: run from a spark-tinymr checkout (mr_python_spark/, "
              "__spark_entry__.py and tools/ not found)", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    events = prepare_env(run_dir, bool(args.trace))
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)

    from perfbench.harness import Bench  # imports pyspark: env must be set first

    bench = Bench(args.workload, args.seed, bool(args.trace), run_dir)
    try:
        result = bench.run(args.seconds)
    finally:
        bench.shutdown()
    ops = result["ops"]
    walls = [o["wall_s"] for o in ops]
    op_time = sum(walls)
    failed = sum(1 for o in ops if not o["ok"])
    tail_s, tail_pct = tail(walls)
    e2e = {
        "setup_s": (statistics.median(result["setups"]), "s"),
        "op_p50_s": (statistics.median(walls), "s"),
        "op_tail_s": (tail_s, "s"),
        "ops_per_s": ((len(ops) - failed) / op_time, "1/s"),
        "records_per_s": (sum(o["records"] for o in ops) / op_time, "1/s"),
        "cpu_s_per_op": (sum(o["cpu_s"] for o in ops) / len(ops), "s"),
        "peak_rss_mb": (result["peak_rss"] / 2**20, "MB"),
        "error_rate": (failed / len(ops), "1"),
    }
    for o in ops:
        if not o["ok"]:
            print(f"FAILED {o['name']} (op {o['op']}): {o['err']}")
    print(f"workload={args.workload} seed={args.seed} ops={len(ops)} "
          f"passes={result['passes']} prepare_s={result['prepare_s']:.1f} "
          f"loop_s={result['loop_s']:.1f} setups_s={[round(s, 3) for s in result['setups']]}")
    for name, (value, unit) in e2e.items():
        note = f"  (p{tail_pct:.0f} of {len(walls)} ops)" if name == "op_tail_s" else ""
        print(f"{name} = {value:.6g} {unit}{note}")
    if args.trace:
        from perfbench.layers import per_layer

        metrics = per_layer(result, events)
        for name, (value, unit) in metrics.items():
            print(f"{name} = {value:.6g} {unit}")
    else:
        # the result object holds the bounded metrics: error_rate is 0
        # when all is well and travels as "failed"/"attempted"; the
        # JVM's heap sizing moves peak_rss_mb by up to a quarter between
        # runs of the same code, too much for a bound of at most 0.25
        metrics = {k: v for k, v in e2e.items() if k not in ("error_rate", "peak_rss_mb")}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
