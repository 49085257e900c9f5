from __future__ import annotations

import os
import sys

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
