"""The measuring loop behind ``perfbench/run.py``.

Importing this module imports pyspark, so ``run.py`` imports it only
after pointing Spark's files and settings at the run directory.
"""

from __future__ import annotations

import json
import os
import random
import re
import shutil
import signal
import subprocess
import time

import numpy as np

from perfbench import datagen, procfs
from perfbench import workloads as W

PID = os.getpid()
#: set-ups per run; ``setup_s`` is their median
SETUPS = 3
#: hard stop for the measuring loop, far inside the 180 s run limit
LOOP_CAP_S = 80.0
_TABLE_RE = re.compile(r"\b(" + "|".join(datagen.TABLES) + r")\b")


def _catalyst_ms(df) -> dict[str, float]:
    """Analysis, optimization and planning ms of ``df``'s own query
    execution, after forcing its physical plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        summary = phases.get(phase)
        out[phase] = float(summary.get().durationMs()) if summary.isDefined() else 0.0
    return out


class Bench:
    """One run: generate inputs, set up Spark, loop over the mix."""

    def __init__(self, workload: str, seed: int, trace: bool, run_dir: str):
        self.workload, self.seed, self.trace = workload, seed, trace
        self.run_dir = run_dir
        self.rng = random.Random(seed)
        self.spark = None
        self.ops: list[dict] = []
        self.inputs: dict[str, tuple] = {}
        self.oracles: dict[tuple[str, str], tuple[str, object]] = {}
        self.catalog = os.path.join(run_dir, "catalog")

    # -- set-up --------------------------------------------------------

    def _setup(self) -> float:
        """Session start, query registration and engine warm-up."""
        t0 = time.perf_counter()
        from mr_python_spark import registry
        from mr_python_spark.session import get_spark

        self.spark = get_spark("perfbench")
        import __spark_entry__

        registry.load_all_modules()
        self.queries = __spark_entry__.queries()
        # warm-up: one SQL job and one job through the Python workers
        self.spark.range(4096).selectExpr("id % 7 AS k").groupBy("k").count() \
            .write.format("noop").mode("overwrite").save()
        self.spark.sparkContext.parallelize(range(64), 4).map(lambda x: x * x).sum()
        return time.perf_counter() - t0

    def _generate(self) -> None:
        datagen.write_catalog(self.catalog, W.SCALE, self.seed)
        if self.workload != "mapreduce":
            return
        rng = np.random.default_rng(self.seed)
        for job, (cls, gen, expect) in W.JOBS.items():
            for size, n in W.SIZES.items():
                items = gen(rng, n)
                self.inputs[f"{job}.{size}"] = (cls, items, expect(items))

    def _prepare(self) -> list[str]:
        """Untimed work before the loop; returns the mix.

        The catalog workloads run one pass over their mix on the base
        catalog first: it compiles every query shape in the fresh JVM
        and, for ``catalog-warm``, builds every keyed cache the mix
        reads.  ``catalog-cold`` then evicts those caches, so its
        operations measure cache builds, not first-run compilation."""
        if self.workload == "mapreduce":
            for name in W.PARITY:
                self._oracle(name, self.catalog)
            return list(self.inputs) + list(W.PARITY)
        mix = list(W.WARM_MIX if self.workload == "catalog-warm" else W.COLD_MIX)
        for name in mix:
            self.queries[name](self.spark, self.catalog) \
                .write.format("noop").mode("overwrite").save()
            if self.workload == "catalog-warm":
                self._oracle(name, self.catalog)
        if self.workload == "catalog-cold":
            self._evict()
        return mix

    # -- the loop --------------------------------------------------------

    def run(self, seconds: float) -> dict:
        self._generate()
        with procfs.TreeSampler(PID) as self.sampler:
            setups = []
            for _ in range(SETUPS):
                if self.spark is not None:
                    self.spark.stop()
                setups.append(self._setup())
            self.sc = self.spark.sparkContext
            app_id = self.sc.applicationId
            t0 = time.perf_counter()
            mix = self._prepare()
            prepare_s = time.perf_counter() - t0
            t0, passes = time.perf_counter(), 0
            while passes == 0 or time.perf_counter() - t0 < seconds:
                order = list(mix)
                self.rng.shuffle(order)
                for name in order:
                    if time.perf_counter() - t0 > LOOP_CAP_S:
                        break
                    self.ops.append(self._op(name))
                passes += 1
            loop_s = time.perf_counter() - t0
            self.spark.stop()
        with open(os.path.join(self.run_dir, "ops.json"), "w") as f:
            json.dump(self.ops, f, indent=1)
        return {"ops": self.ops, "setups": setups, "passes": passes,
                "prepare_s": prepare_s, "loop_s": loop_s,
                "peak_rss": self.sampler.peak_rss, "app_id": app_id, "run_dir": self.run_dir}

    def _op(self, name: str) -> dict:
        op_id = f"op{len(self.ops)}"
        if self.workload == "catalog-cold":
            sf_dir = os.path.join(self.run_dir, "cold", op_id)
            datagen.write_catalog(sf_dir, W.SCALE, self.seed * 100_003 + len(self.ops))
        else:
            sf_dir = self.catalog
        rec = {"op": op_id, "name": name, "ok": True, "err": None, "steps": {}}
        if name in self.inputs:
            self._call(rec)
        else:
            self._query(rec, sf_dir)
        if self.workload == "catalog-cold":
            self._evict()
            shutil.rmtree(sf_dir)
        return rec

    def _step(self, rec: dict, step: str, fn):
        """Run ``fn`` as one step of an operation, under its own job
        group when tracing."""
        if self.trace:
            self.sc.setJobGroup(f"{rec['op']}.{step}", rec["name"])
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            rec["steps"][step] = time.perf_counter() - t0

    def _begin(self, rec: dict) -> None:
        rec["cpu0"] = self.sampler.cpu_s()
        rec["t0"] = time.time()
        rec["p0"] = time.perf_counter()

    def _end(self, rec: dict) -> None:
        rec["wall_s"] = time.perf_counter() - rec.pop("p0")
        rec["t1"] = time.time()
        rec["cpu_s"] = self.sampler.cpu_s() - rec.pop("cpu0")
        if self.trace:
            rec["storage_bytes"] = sum(
                i.memSize() + i.diskSize() for i in self.sc._jsc.sc().getRDDStorageInfo()
            )
            self.sc.setJobGroup(f"{rec['op']}.check", rec["name"])

    @staticmethod
    def _fail(rec: dict, err: str) -> None:
        rec["ok"], rec["err"] = False, err

    def _call(self, rec: dict) -> None:
        """One generated ``MapReduce`` call, checked against the
        plain-Python dict (key order included)."""
        cls, items, expected = self.inputs[rec["name"]]
        rec["mode"], rec["records"] = "python-expected", len(items)
        job = cls()
        job.spark = self.spark
        self._begin(rec)
        try:
            out = self._step(rec, "core", lambda: job(items))
        except Exception as e:  # an operation that raises counts as failed
            self._end(rec)
            return self._fail(rec, f"{type(e).__name__}: {e}")
        self._end(rec)
        if list(out.items()) != list(expected.items()):
            self._fail(rec, "output differs from the plain-Python dict")

    def _query(self, rec: dict, sf_dir: str) -> None:
        """One registry query: build, then execute into the noop sink;
        its rows are compared with the oracle after the timed window."""
        name = rec["name"]
        mode, oracle = self._oracle(name, sf_dir)
        rec["mode"] = mode
        rec["records"] = sum(W.SCALE.rows[t] for t in self._tables(name))
        self._begin(rec)
        try:
            df = self._step(rec, "build", lambda: self.queries[name](self.spark, sf_dir))
            if self.trace:
                rec["catalyst_ms"] = self._step(rec, "plan", lambda: _catalyst_ms(df))
            self._step(rec, "exec", lambda: df.write.format("noop").mode("overwrite").save())
        except Exception as e:  # an operation that raises counts as failed
            self._end(rec)
            return self._fail(rec, f"{type(e).__name__}: {e}")
        self._end(rec)
        from tools.check_correctness import compare

        try:
            got = df.toPandas()
            problems = [] if oracle is None else compare(name, got, oracle)
        except Exception as e:  # e.g. a complex cell the comparison rejects
            problems = [f"{type(e).__name__}: {e}"]
        if problems:
            self._fail(rec, "; ".join(problems[:3]))

    def _tables(self, name: str) -> set[str]:
        """Tables a query reads, from its oracle SQL."""
        if name in W.PARITY:
            return {W.PARITY[name]}
        import __spark_entry__
        from tools.udf_oracles import udf_oracles

        sql = __spark_entry__.oracle_sql().get(name) or udf_oracles().get(name, "")
        return set(_TABLE_RE.findall(sql))

    def _oracle(self, name: str, sf_dir: str) -> tuple[str, object]:
        """(mode, expected frame) from ``tools/check_correctness.py``'s
        DuckDB oracle, or its udf-oracle tier; ``rows-only`` when the
        query has neither."""
        key = (name, sf_dir)
        if key in self.oracles:
            return self.oracles[key]
        import __spark_entry__
        import tools.check_correctness as cc
        from tools.udf_oracles import register_udfs, udf_oracles

        sql, udf_sql = __spark_entry__.oracle_sql(), udf_oracles()
        if name in sql:
            mode, text = "oracle", sql[name]
        elif name in udf_sql:
            mode, text = "udf-oracle", udf_sql[name]
        else:
            self.oracles[key] = ("rows-only", None)
            return self.oracles[key]
        # the tool's table directory: a module global, and an environment
        # variable for the udf tier's trained oracle models
        cc.SF_DIR = os.environ["SPARK_GRAFT_CHECK_SF"] = sf_dir
        con = cc.duck_connection()
        try:
            if mode == "udf-oracle":
                register_udfs(con)
            found = (mode, con.sql(text).df())
        finally:
            con.close()
        if self.workload != "catalog-cold":  # cold: one corpus per operation
            self.oracles[key] = found
        return found

    def _evict(self) -> None:
        """Drop every cached frame and persisted RDD, so the next cold
        operation starts from empty Spark storage."""
        self.spark.catalog.clearCache()
        for rdd in self.sc._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)

    # -- teardown --------------------------------------------------------

    def shutdown(self) -> None:
        """Stop Spark, end the JVM, wait until every process this run
        started has exited, then delete the run's inputs and scratch
        files (its JSON outputs and event log stay)."""
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while left := [pid for pid in procfs.tree(PID) if pid != PID]:
            if time.monotonic() > deadline + 30:
                raise RuntimeError(f"processes still running after SIGKILL: {left}")
            if time.monotonic() > deadline:
                for pid in left:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            time.sleep(0.2)
        for bulky in ("catalog", "cold", "tmp", "spark-local", "warehouse"):
            shutil.rmtree(os.path.join(self.run_dir, bulky), ignore_errors=True)
