"""Session lifecycle, timed passes and the traced pass.

Layers follow the package modules and are timed from outside, around the
public call into each one:

- ``session``: ``session.get_spark`` and the warm-up before timing (one
  JVM job plus the Python worker pool, as ``bench.warmup`` does);
- ``build``: the registry builder call ``queries()[name](spark, sf_dir)``,
  including every Spark job it launches before returning its DataFrame;
- ``plan``: forcing the DataFrame's own ``queryExecution().executedPlan()``
  (Catalyst analysis, optimization and physical planning);
- ``exec``: the noop-sink materialize;
- ``write``: a write op's whole call (it plans and executes its own sinks;
  the task metrics of its jobs count in the ``exec.*`` counters).

Untimed between ops: ``spark.catalog.clearCache()``; between passes:
``registry.clear_session_memos()``.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark import SparkContext
from pyspark.sql import functions as F

from retail_sales_project_bigdata_spark import registry
from retail_sales_project_bigdata_spark.session import get_spark

import probe
from workloads import Workload, run_write


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Session:
    spark: object
    get_spark_s: float
    warmup_s: float
    jvm_pid: int


def warmup(spark, data_dir: str) -> None:
    """``bench.warmup``'s two steps: one small scan-join-aggregate job
    (JIT, codegen, shuffle, parquet reader), then one Python task per core
    so each worker of the pool is forked and has numpy/pandas imported."""
    df = spark.read.parquet(os.path.join(data_dir, "region.parquet"))
    materialize(
        df.crossJoin(F.broadcast(df.select(F.col("r_regionkey").alias("k"))))
        .groupBy("k")
        .count()
    )

    def _warm_imports(batches):  # nested: pickled by value for the workers
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        yield from batches

    cores = spark.sparkContext.defaultParallelism
    materialize(
        spark.range(cores, numPartitions=cores).mapInPandas(
            _warm_imports, schema="id long"
        )
    )


def start_session(data_dir: str, tmp_dir: str) -> Session:
    """Launch a fresh driver JVM through ``session.get_spark`` and warm it."""
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp_dir}"},
    )
    t1 = time.perf_counter()
    session = Session(spark, t1 - t0, 0.0, probe.jvm_pid())
    try:
        warmup(spark, data_dir)
    except BaseException:
        stop_session(session)
        raise
    session.warmup_s = time.perf_counter() - t1
    return session


def stop_session(session: Session, timeout: float = 60.0) -> None:
    """Stop the SparkContext, shut the JVM down and wait until it and
    every process it started (Python worker daemons) have exited."""
    kids = probe.descendants(session.jvm_pid)
    session.spark.stop()
    gateway = SparkContext._gateway
    proc = gateway.proc
    gateway.shutdown()
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except Exception:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


@dataclass
class PassResult:
    wall_s: float
    latencies: dict[str, float] = field(default_factory=dict)
    failures: dict[str, str] = field(default_factory=dict)
    records: list[dict] = field(default_factory=list)


class Runner:
    """Runs passes of one workload on one warmed session."""

    def __init__(self, spark, workload: Workload, seed: int, data_dir: str, work_dir: str):
        self.spark = spark
        self.workload = workload
        self.ops = workload.ops(seed)
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.builders = registry.queries()
        self.cores = spark.sparkContext.defaultParallelism
        self.n_pass = 0

    def _out_dir(self, op: str) -> str:
        return os.path.join(self.work_dir, f"p{self.n_pass}-{op}")

    def _finish_pass(self, res: PassResult) -> PassResult:
        registry.clear_session_memos()
        shutil.rmtree(self.work_dir, ignore_errors=True)
        os.makedirs(self.work_dir, exist_ok=True)
        self.n_pass += 1
        return res

    def check_pass(self, checker) -> PassResult:
        """Untimed pass that checks every op's output."""
        res = PassResult(0.0)
        pending = {}
        t_pass = time.perf_counter()
        for op in self.ops:
            t0 = time.perf_counter()
            try:
                if op in self.workload.writes:
                    out = self._out_dir(op)
                    result = run_write(self.spark, op, self.data_dir, out)
                    problems = checker.write(op, result, out)
                else:
                    df = self.builders[op](self.spark, self.data_dir)
                    pending[op] = checker.query(op, df)
                    problems = []
            except Exception as exc:  # noqa: BLE001  (counted, pass goes on)
                problems = [f"{type(exc).__name__}: {exc}"]
            if problems:
                res.failures[op] = "; ".join(problems)[:500]
            res.latencies[op] = time.perf_counter() - t0
            self.spark.catalog.clearCache()
        for op, fut in pending.items():
            try:
                problems = fut.result()
            except Exception as exc:  # noqa: BLE001
                problems = [f"{type(exc).__name__}: {exc}"]
            if problems:
                res.failures[op] = "; ".join(problems)[:500]
        res.wall_s = time.perf_counter() - t_pass
        return self._finish_pass(res)

    def timed_pass(self) -> PassResult:
        res = PassResult(0.0)
        t_pass = time.perf_counter()
        for op in self.ops:
            t0 = time.perf_counter()
            try:
                if op in self.workload.writes:
                    run_write(self.spark, op, self.data_dir, self._out_dir(op))
                else:
                    materialize(self.builders[op](self.spark, self.data_dir))
                res.latencies[op] = time.perf_counter() - t0
            except Exception as exc:  # noqa: BLE001
                res.failures[op] = f"{type(exc).__name__}: {exc}"[:500]
            self.spark.catalog.clearCache()
        res.wall_s = time.perf_counter() - t_pass
        return self._finish_pass(res)

    def traced_pass(self) -> PassResult:
        """Like ``timed_pass``, with a span and counters per layer per op."""
        res = PassResult(0.0)
        pr = probe.Probe(self.spark)
        sc = self.spark.sparkContext
        t_pass = time.perf_counter()
        for i, op in enumerate(self.ops):
            group = f"perfbench-{self.n_pass}-{i}"
            rec: dict = {"op": op}
            mark = pr.sql_mark()
            t0 = time.perf_counter()
            try:
                if op in self.workload.writes:
                    out = self._out_dir(op)
                    sc.setJobGroup(f"{group}-write", op)
                    run_write(self.spark, op, self.data_dir, out)
                    t1 = time.perf_counter()
                    rec["write.s"] = t1 - t0
                    rec["write.files"], rec["write.bytes"] = probe.dir_files_bytes(out)
                    spans = {"write": f"{group}-write"}
                else:
                    sc.setJobGroup(f"{group}-build", op)
                    df = self.builders[op](self.spark, self.data_dir)
                    t1 = time.perf_counter()
                    sc.setJobGroup(f"{group}-plan", op)
                    phases = probe.plan_phases(df)
                    t2 = time.perf_counter()
                    sc.setJobGroup(f"{group}-exec", op)
                    materialize(df)
                    t3 = time.perf_counter()
                    rec.update({"build.s": t1 - t0, "plan.s": t2 - t1, "exec.s": t3 - t2})
                    rec.update({f"plan.{k}_s": v for k, v in phases.items()})
                    spans = {"build": f"{group}-build", "plan": f"{group}-plan",
                             "exec": f"{group}-exec"}
                res.latencies[op] = time.perf_counter() - t0
            except Exception as exc:  # noqa: BLE001
                res.failures[op] = f"{type(exc).__name__}: {exc}"[:500]
                spans = {}
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            pr.settle()
            for layer, g in spans.items():
                tot = pr.job_totals(pr.jobs(g))
                if layer == "build":
                    rec["build.jobs"], rec["build.job_s"] = tot["jobs"], tot["job_s"]
                elif layer in ("exec", "write"):
                    rec.update({f"exec.{k}": v for k, v in tot.items()
                                if k not in ("job_s", "output_bytes")})
                    if layer == "write":
                        rec["write.input_bytes"] = tot["input_bytes"]
                else:
                    rec["plan.jobs"] = tot["jobs"]
            pt = pr.plan_totals(mark)
            rec["plan.exchanges"], rec["plan.python_nodes"] = pt["exchanges"], pt["python_nodes"]
            for k in ("bytes_sent", "bytes_received", "rows_returned"):
                rec[f"pyworker.{k}"] = pt[k]
            rec["cache.rdds_left"], rec["cache.bytes_left"] = pr.cache_state()
            rec["memo.entries_left"] = probe.memo_entries()
            res.records.append(rec)
            self.spark.catalog.clearCache()
        res.wall_s = time.perf_counter() - t_pass
        return self._finish_pass(res)


LAYER_SUMS = (
    "build.s build.jobs build.job_s plan.s plan.analysis_s plan.optimization_s "
    "plan.planning_s plan.exchanges plan.python_nodes exec.s exec.jobs "
    "exec.stages exec.tasks exec.failed_tasks exec.executor_run_s "
    "exec.executor_cpu_s exec.gc_s exec.input_bytes exec.shuffle_write_bytes "
    "exec.shuffle_read_bytes exec.spill_bytes pyworker.bytes_sent "
    "pyworker.bytes_received pyworker.rows_returned cache.rdds_left "
    "cache.bytes_left memo.entries_left write.s write.files write.bytes "
    "write.input_bytes"
).split()


def pass_layers(res: PassResult, cores: int) -> dict[str, float]:
    """Per-layer totals of one traced pass, with the derived ratios."""
    tot = {k: float(sum(r.get(k, 0.0) for r in res.records)) for k in LAYER_SUMS}
    busy = (tot["exec.s"] + tot["write.s"]) * cores
    tot["exec.slot_util"] = tot["exec.executor_run_s"] / busy if busy else 0.0
    tot["write.amplification"] = (
        tot["write.bytes"] / tot["write.input_bytes"] if tot["write.input_bytes"] else 0.0
    )
    return tot


def tail_pct(n_guaranteed: int) -> float:
    """The highest percentile with at least ten samples beyond it, for the
    number of latencies every run is guaranteed to collect (never below
    the median).  Fixing it by the guaranteed count keeps its meaning when
    a faster program fits more passes into a run."""
    return max(0.5, 1.0 - 10.0 / n_guaranteed)


def percentile(samples: list[float], pct: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(samples)
    return s[min(len(s) - 1, int(pct * len(s)))]
