"""``schemas.TESTDATA_SCHEMAS`` must equal what Spark reads from every
testdata parquet footer: the same field names and data types, in order,
at every scale factor."""

from __future__ import annotations

import os

import pytest

from retail_sales_project_bigdata_spark.schemas import TESTDATA_SCHEMAS
from tests.conftest import SF_SMALL

TESTDATA = os.path.dirname(SF_SMALL)
SCALE_FACTORS = ["sf0.001", "sf0.01", "sf0.1"]


@pytest.mark.parametrize("sf", SCALE_FACTORS)
@pytest.mark.parametrize("table", list(TESTDATA_SCHEMAS))
def test_declared_schema_matches_footer(spark, sf, table):
    footer = spark.read.parquet(f"{TESTDATA}/{sf}/{table}.parquet").schema
    declared = TESTDATA_SCHEMAS[table]
    assert [(f.name, f.dataType) for f in footer] == [
        (f.name, f.dataType) for f in declared
    ]
