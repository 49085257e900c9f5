from __future__ import annotations

import os
import sys
from contextlib import contextmanager
from dataclasses import dataclass

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from retail_sales_project_bigdata_spark.schemas import TESTDATA_SCHEMAS
from retail_sales_project_bigdata_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

TABLES = list(TESTDATA_SCHEMAS)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(autouse=True)
def _spark_test_scope(request):
    """Run every test that uses ``spark`` in one ``registry.query_scope``:
    what a test caches, persists or registers does not outlive it, so a
    later test never plans over a cached subtree an earlier one left."""
    if "spark" not in request.fixturenames:
        yield
        return
    from retail_sales_project_bigdata_spark.registry import query_scope

    with query_scope(request.getfixturevalue("spark")):
        yield


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the sf0.001 tables registered as views."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'")
    yield con
    con.close()


def assert_oracle_match(spark_df, duck_con, sql: str) -> None:
    """Row-count + columns + order-insensitive value equality (the same
    comparison tools/oracle_check.py and the driver's gate perform)."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from oracle_check import compare

    problems = compare(spark_df, duck_con.execute(sql).df(), "test")
    assert not problems, problems


def persistent_rdd_ids(spark) -> set[int]:
    # toArray(): iterating the key set ends in a Java exception that
    # pyspark's error conversion inspects, ~17 ms a read
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def cache_entry_count(spark) -> int:
    return (
        spark._jsparkSession.sharedState().cacheManager().numCachedEntries()
    )


def temp_view_names(spark) -> set[str]:
    # the session catalog directly: ``spark.catalog.listTables()`` costs
    # ~0.1 s a call, which would add over a minute to the suite
    views = spark._jsparkSession.sessionState().catalog().listLocalTempViews("*")
    return {views.apply(i).table() for i in range(views.size())}


@contextmanager
def released_scope(spark):
    """Run the body in ``registry.query_scope`` and assert that it left
    no temp view, no persistent RDD and no cache entry behind.  RDDs are
    compared as id sets, not counts: the ContextCleaner may drop older
    RDDs while the body runs."""
    from retail_sales_project_bigdata_spark.registry import query_scope

    views_before = temp_view_names(spark)
    rdds_before = persistent_rdd_ids(spark)
    entries_before = cache_entry_count(spark)
    with query_scope(spark):
        yield
    views_left = temp_view_names(spark) - views_before
    assert not views_left, f"temp views created inside and left: {views_left}"
    left = persistent_rdd_ids(spark) - rdds_before
    assert not left, f"persistent RDDs created inside and left: {sorted(left)}"
    assert cache_entry_count(spark) == entries_before


@dataclass
class RegistryRun:
    """What one build of a registry query showed.  ``oracle_problems``
    is None for a rows-only name; ``streams`` pairs each stream the
    build started with the ``plan_facts`` of its last executed
    micro-batch plan (None if it executed none)."""

    columns: list[str]
    complex_cols: list[str]
    oracle_problems: list[str] | None
    streams: list[tuple[str, dict | None]]


_REGISTRY_RUNS: dict[str, RegistryRun] = {}


def registry_run(spark, duck, name: str) -> RegistryRun:
    """Build registry query ``name`` at sf0.001 once per test session.

    ``test_query_runs``, ``test_oracle_parity`` and
    ``test_microbatch_plan_within_budget`` each assert their part of the
    result, so a query builds once however many of them check it.  The
    build runs inside ``released_scope`` (it must leave no temp view,
    persistent RDD or cache entry behind), collects every row of an
    oracle name for the DuckDB comparison or five rows of a rows-only
    name, and records every ``StreamingQuery`` it starts by wrapping
    ``DataStreamWriter.start``: a stopped query still holds its last
    executed micro-batch plan.  A build that raises is not kept, so
    every test that needs it fails."""
    run = _REGISTRY_RUNS.get(name)
    if run is None:
        run = _REGISTRY_RUNS[name] = _build_registry_run(spark, duck, name)
    return run


def _build_registry_run(spark, duck, name: str) -> RegistryRun:
    from pyspark.sql.streaming import DataStreamWriter
    from pyspark.sql.types import ArrayType, MapType, StructType

    import __spark_entry__ as entrymod
    from retail_sales_project_bigdata_spark.plans import plan_facts

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from oracle_check import compare

    oracles = entrymod.oracle_sql()
    started = []
    start = DataStreamWriter.start

    def recording_start(self, *args, **kwargs):
        query = start(self, *args, **kwargs)
        started.append(query)
        return query

    with pytest.MonkeyPatch.context() as mp, released_scope(spark):
        mp.setattr(DataStreamWriter, "start", recording_start)
        df = entrymod.queries()[name](spark, SF_SMALL)
        complex_cols = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if name in oracles:
            problems = compare(df, duck.execute(oracles[name]).df(), name)
        else:
            problems = None
            df.limit(5).collect()
        columns = df.columns

    streams = []
    for query in started:
        last = query._jsq.streamingQuery().lastExecution()
        facts = None if last is None else plan_facts(last.executedPlan())
        streams.append((query.name, facts))
    return RegistryRun(columns, complex_cols, problems, streams)


def assert_microbatch_plans_within_budget(name: str, run: RegistryRun) -> None:
    """The batch budgets' scale facts, on the last executed micro-batch
    plan of every stream the build started."""
    for stream, facts in run.streams:
        # a stream that executed ZERO micro-batches has no plan; the
        # checks below would pass vacuously, so require one
        assert facts is not None, (
            f"{name}/{stream}: no micro-batch ever executed"
        )
        assert facts["python_eval"] == 0, (
            f"{name}/{stream}: Python eval node in a micro-batch plan: {facts}"
        )
        assert facts["cartesian"] == 0, (
            f"{name}/{stream}: cartesian product in a micro-batch plan: {facts}"
        )
