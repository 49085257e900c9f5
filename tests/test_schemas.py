"""``schemas.TESTDATA_SCHEMAS`` must equal what Spark reads from every
testdata parquet footer: the same field names and data types, in order,
at every scale factor and in the benchmark's generated tables.

``sources.read_table`` reads with the declared schema and never looks at
the footer, so a declared column the file lacks would read as nulls
without an error; these checks are what keeps the two in step."""

from __future__ import annotations

import os
import sys

import pytest

from retail_sales_project_bigdata_spark.schemas import TESTDATA_SCHEMAS
from tests.conftest import REPO, SF_SMALL

TESTDATA = os.path.dirname(SF_SMALL)
SCALE_FACTORS = ["sf0.001", "sf0.01", "sf0.1"]
GENERATED = "perfbench"


@pytest.fixture(scope="module")
def generated_dir(tmp_path_factory):
    """The benchmark's generated tables (``perfbench/datagen.py``)."""
    sys.path.insert(0, os.path.join(REPO, "perfbench"))
    import datagen

    out = str(tmp_path_factory.mktemp("generated"))
    datagen.write_tables(out, 0.001, 1)
    return out


@pytest.mark.parametrize("sf", SCALE_FACTORS + [GENERATED])
@pytest.mark.parametrize("table", list(TESTDATA_SCHEMAS))
def test_declared_schema_matches_footer(spark, request, sf, table):
    sf_dir = (
        request.getfixturevalue("generated_dir")
        if sf == GENERATED
        else f"{TESTDATA}/{sf}"
    )
    footer = spark.read.parquet(f"{sf_dir}/{table}.parquet").schema
    declared = TESTDATA_SCHEMAS[table]
    assert [(f.name, f.dataType) for f in footer] == [
        (f.name, f.dataType) for f in declared
    ]


def test_read_table_rejects_undeclared_name(spark):
    from retail_sales_project_bigdata_spark.sources import read_table, table_rows

    with pytest.raises(KeyError, match="declared: region, nation"):
        read_table(spark, SF_SMALL, "no_such_table")
    with pytest.raises(KeyError, match="declared: region, nation"):
        table_rows(SF_SMALL, "no_such_table")


@pytest.mark.parametrize("table", list(TESTDATA_SCHEMAS))
def test_table_rows_matches_spark_count(spark, table):
    """The footer row count that sizes a query equals what Spark counts."""
    from retail_sales_project_bigdata_spark.sources import table_rows

    path = f"{SF_SMALL}/{table}.parquet"
    assert table_rows(SF_SMALL, table) == spark.read.parquet(path).count()


def test_table_rows_reads_spark_output_directory(spark, tmp_path):
    """A table written by Spark is a directory of part files beside
    ``_SUCCESS`` and ``.crc`` files; its footer count is Spark's count."""
    from retail_sales_project_bigdata_spark.sources import table_rows

    path = str(tmp_path / "documents.parquet")
    spark.read.parquet(f"{SF_SMALL}/documents.parquet").repartition(
        3
    ).write.parquet(path)
    names = os.listdir(path)
    assert "_SUCCESS" in names
    assert any(n.endswith(".crc") for n in names)
    assert sum(n.startswith("part-") for n in names) == 3
    assert table_rows(str(tmp_path), "documents") == (
        spark.read.parquet(path).count()
    )
