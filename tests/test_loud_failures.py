"""Failures stay loud with PySpark's DataFrame debugging off.

``session.get_spark`` turns off the per-call Python call-site capture.
What that may cost is the file and line in an error message; it must not
cost the error itself, its class or the name of what failed."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException, ArithmeticException
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def test_missing_column_raises_at_construction(spark):
    """A builder-style projection over a table read names the missing
    column when the DataFrame is built, before any job runs."""
    from retail_sales_project_bigdata_spark.sources import read_table

    orders = read_table(spark, SF_SMALL, "orders")
    with pytest.raises(AnalysisException) as err:
        orders.select(F.col("o_orderkey"), F.col("o_no_such_column"))
    assert err.value.getCondition().startswith("UNRESOLVED_COLUMN")
    assert "o_no_such_column" in str(err.value)


def test_divide_by_zero_raises_at_execution(spark):
    """Under ANSI mode a division by zero fails the job with its error
    class; only the Python file and line of the division are missing,
    which also shows that this session captures no call sites."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    df = spark.range(3).select((F.col("id") / F.lit(0)).alias("q"))
    with pytest.raises(ArithmeticException) as err:
        df.collect()
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"
    assert "Division by zero" in str(err.value)
    assert __file__ not in str(err.value)
