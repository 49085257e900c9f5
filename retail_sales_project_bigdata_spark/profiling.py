"""Query profiling: run a registered query and report where the time and
tasks went — the ``.explain and iterate`` loop's runtime half.

``profile_query`` builds the DataFrame, counting the jobs the DAG
scheduler was handed meanwhile, then executes its plan under a dedicated
job group, reads the driver's status tracker for the jobs/stages/tasks
that group launched, and pairs that with facts read from the
*finalized* physical plan (:func:`plans.plan_facts`: exchanges, joins,
python nodes, codegen spans).
Execution goes through the DataFrame's own ``queryExecution`` (via
``toRdd().count()``, a distributed count — nothing is collected to the
driver), because a ``df.write`` action compiles a *separate* query
execution and AQE only stamps codegen/final-plan facts on the one that
ran.  Everything comes from public PySpark APIs
(``SparkContext.statusTracker``, ``QueryExecution.executedPlan``) — no
UI, no event-log parsing — so it works in headless/local mode and on a
cluster alike.

``warmup`` runs once per session before the first timed query; bench.py,
``tools/oracle_check.py`` and the CLI call it.

CLI: ``python -m retail_sales_project_bigdata_spark profile <name> ...``.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from retail_sales_project_bigdata_spark.plans import plan_facts


def warm_python_workers(spark: SparkSession) -> None:
    """Fork the Python worker pool + Arrow serialization path, and trigger
    the heavy imports (numpy/pandas) inside every worker, so a mapInPandas
    query measures compute, not 32x fork+import cost.  bench.py calls it
    again before its warm re-time pass: the worker pool can decay while
    hundreds of JVM-only queries run between two media queries, and a
    re-timed query that pays the ~10s refork records a worker-pool
    artifact, not its own cost (BENCH_r05's resize_media at 11.98s vs a
    1.4s steady state)."""

    def _warm_imports(batches):
        import numpy  # noqa: F401  (worker-side import warmup)
        import pandas  # noqa: F401

        yield from batches

    spark.range(32, numPartitions=32).mapInPandas(
        _warm_imports, schema="id long"
    ).write.format("noop").mode("overwrite").save()


def warmup(spark: SparkSession, sf_dir: str) -> None:
    """One small end-to-end job before timing: JVM JIT, codegen compiler,
    shuffle machinery, and the parquet footer cache all initialize here
    instead of inside whichever query runs first.  Then the Python
    worker pool (:func:`warm_python_workers`)."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    df.crossJoin(
        F.broadcast(df.select(F.col("r_regionkey").alias("k")))
    ).groupBy("k").count().write.format("noop").mode("overwrite").save()
    warm_python_workers(spark)


def _in_job_group(sc, label: str, fn):
    """Run ``fn()`` under a fresh job group; returns its result, the wall
    seconds it took and the ids of the jobs it launched."""
    group = f"{label}-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, label, interruptOnCancel=False)
    try:
        t0 = time.perf_counter()
        out = fn()
        wall = time.perf_counter() - t0
    finally:
        sc.setJobGroup(None, None)
    return out, wall, sorted(sc.statusTracker().getJobIdsForGroup(group))


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Spark's code generator has compiled in this JVM so far:
    one per generated-class cache miss (``CodegenMetrics``' compile-time
    histogram count).  JVM-wide, so a delta over a span also counts what
    other threads compiled in it."""
    # One fully qualified lookup is one py4j round trip; a dotted walk
    # costs one per package segment.
    metrics = getattr(spark._jvm, "org.apache.spark.metrics.source.CodegenMetrics")
    return metrics.METRIC_COMPILATION_TIME().getCount()


def jobs_submitted(spark: SparkSession) -> int:
    """Jobs submitted to this JVM's DAG scheduler so far, from any thread
    and any job group: a streaming query runs its micro-batch jobs on its
    own thread under its own group, which a job-group lookup misses.
    JVM-wide, so a delta over a span also counts what other threads
    submitted in it."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def profile_df(df: DataFrame, label: str = "profile") -> dict[str, object]:
    """Materialize ``df`` (distributed count over its own query execution
    — full execution, no rows to the driver) inside a fresh job group and
    return the runtime + finalized-plan profile."""
    sc = df.sparkSession.sparkContext
    tracker = sc.statusTracker()
    _, wall, job_ids = _in_job_group(
        sc, label, lambda: df._jdf.queryExecution().toRdd().count()
    )
    n_stages = 0
    n_tasks = 0
    n_failed = 0
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is None:
                continue
            n_stages += 1
            n_tasks += st.numTasks
            n_failed += st.numFailedTasks

    # Facts of the finalized (post-AQE) plan of the execution that ran.
    return {
        "label": label,
        "wall_sec": round(wall, 3),
        "jobs": len(job_ids),
        "stages": n_stages,
        "tasks": n_tasks,
        "failed_tasks": n_failed,
        **plan_facts(df),
    }


def profile_query(
    spark: SparkSession, name: str, sf_dir: str
) -> dict[str, object]:
    """Profile a registered query by name (see ``registry.queries``).

    ``build_sec`` and ``build_jobs`` report the construction layer: every
    Spark job a builder runs before it returns its DataFrame (convergence
    loops, ML fits, deliberate ``collect()``s, the micro-batches of a
    stream it drives to completion).  ``build_jobs`` is a delta of
    :func:`jobs_submitted`, so it is JVM-wide: exact for callers that
    profile one query at a time, as bench.py, the CLI and the tools do.
    Building and executing share one
    ``registry.query_scope``, so the query leaves nothing persisted; its
    release runs after both timed spans.  ``build_sec + wall_sec`` is the
    query time bench.py records.  ``codegen_compiles`` counts the classes
    compiled over build and execution; a query shape that already ran in
    this JVM reads 0 (see ``session.get_spark``'s generated-class cache)."""
    from retail_sales_project_bigdata_spark.registry import (
        queries,
        query_scope,
    )

    qs = queries()
    if name not in qs:
        raise KeyError(
            f"unknown query {name!r}; see `python -m "
            "retail_sales_project_bigdata_spark list`"
        )
    with query_scope(spark):
        compiles_before = codegen_compiles(spark)
        jobs_before = jobs_submitted(spark)
        t0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        build_wall = time.perf_counter() - t0
        build_jobs = jobs_submitted(spark) - jobs_before
        return {
            **profile_df(df, label=name),
            "build_sec": round(build_wall, 3),
            "build_jobs": build_jobs,
            "codegen_compiles": codegen_compiles(spark) - compiles_before,
        }
