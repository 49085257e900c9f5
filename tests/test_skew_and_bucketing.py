"""Scale-technique tests: salting preserves semantics; bucketing elides
the join shuffle (plan-verified)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from retail_sales_project_bigdata_spark.operators.skew import (
    salted_aggregate,
    salted_join,
)
from retail_sales_project_bigdata_spark.plans import physical_plan
from retail_sales_project_bigdata_spark.sources import read_table, write_bucketed
from tests.conftest import SF_SMALL


def test_salted_aggregate_matches_plain(spark):
    li = read_table(spark, SF_SMALL, "lineitem")
    plain = {
        (r.l_partkey): (r.s, r.c, r.mx)
        for r in li.groupBy("l_partkey")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("s"),
            F.count("l_quantity").alias("c"),
            F.max("l_quantity").alias("mx"),
        )
        .collect()
    }
    salted = {
        (r.l_partkey): (round(r.s, 4), r.c, r.mx)
        for r in salted_aggregate(
            li,
            ["l_partkey"],
            {
                "s": ("l_quantity", "sum"),
                "c": ("l_quantity", "count"),
                "mx": ("l_quantity", "max"),
            },
        ).collect()
    }
    assert plain == salted


def test_salted_join_matches_plain(spark):
    li = read_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_partkey")
    orders = (
        read_table(spark, SF_SMALL, "orders", broadcast_dims=False)
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_custkey")
    )
    plain = sorted(
        (r.l_orderkey, r.l_partkey, r.o_custkey)
        for r in li.join(orders, "l_orderkey").collect()
    )
    salted = sorted(
        (r.l_orderkey, r.l_partkey, r.o_custkey)
        for r in salted_join(li, orders, "l_orderkey").collect()
    )
    assert plain == salted


def test_salted_user_event_counts_oracle(spark, duck):
    from retail_sales_project_bigdata_spark.operators.skew import (
        SALTED_USER_EVENT_COUNTS_SQL,
        salted_user_event_counts,
    )
    from tests.conftest import assert_oracle_match

    df = salted_user_event_counts(spark, SF_SMALL)
    assert_oracle_match(df, duck, SALTED_USER_EVENT_COUNTS_SQL)
    # the salted two-phase shape must actually be in the plan: a partial
    # grouping on (user_id, _salt) before the final per-user aggregate
    assert "_salt" in physical_plan(df)


def test_salted_event_category_rollup_oracle(spark, duck):
    from retail_sales_project_bigdata_spark.operators.skew import (
        SALTED_EVENT_CATEGORY_ROLLUP_SQL,
        salted_event_category_rollup,
    )
    from tests.conftest import assert_oracle_match

    df = salted_event_category_rollup(spark, SF_SMALL)
    assert_oracle_match(df, duck, SALTED_EVENT_CATEGORY_ROLLUP_SQL)
    # the join the query exists to exercise must be the SALTED SHUFFLE
    # path: keys include _salt and the dim is NOT broadcast
    plan = physical_plan(df)
    assert "_salt" in plan
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan


@pytest.fixture()
def bucketed_tables(spark):
    # managed tables land in ./spark-warehouse (gitignored); warehouse.dir
    # is a static conf and cannot be pointed at tmp_path per-test
    li = read_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_partkey")
    orders = read_table(spark, SF_SMALL, "orders", broadcast_dims=False).select(
        "o_orderkey", "o_custkey"
    )
    write_bucketed(li, "b_lineitem", "l_orderkey", 4, sort_cols="l_orderkey")
    write_bucketed(
        orders.withColumnRenamed("o_orderkey", "l_orderkey"),
        "b_orders",
        "l_orderkey",
        4,
        sort_cols="l_orderkey",
    )
    yield
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    # broadcast would hide the point — force sort-merge to show the
    # bucket-aligned join needs no Exchange on either side
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"), "l_orderkey"
        )
        plan = physical_plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
