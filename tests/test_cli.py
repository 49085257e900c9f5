"""The CLI and the session factory leave the process as they found it:
a live session keeps its conf, and job flags do not outlive the job."""

from __future__ import annotations

from tests.conftest import SF_SMALL


def test_get_spark_returns_a_live_session_unchanged(spark):
    from retail_sales_project_bigdata_spark.session import get_spark

    key = "spark.sql.shuffle.partitions"
    v = spark.conf.get(key)
    assert get_spark("other", shuffle_partitions=int(v) + 1) is spark
    assert spark.conf.get(key) == v


def test_cli_churn_window_does_not_outlive_the_job(spark):
    from retail_sales_project_bigdata_spark.__main__ import main
    from retail_sales_project_bigdata_spark.operators import churn

    assert main(["--sf-dir", SF_SMALL, "churn", "--window", "30"]) == 0
    assert churn.REPURCHASE_WINDOW_DAYS == 90
