from __future__ import annotations

import os
import sys
from contextlib import contextmanager

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
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


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
