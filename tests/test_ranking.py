"""Two-phase global ranking (operators/ranking.py) — exactness against
Spark's own window functions and scale-shape assertions."""

from __future__ import annotations

import random

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from retail_sales_project_bigdata_spark.operators.ranking import (
    cume_dist_from_rn,
    global_row_number,
    ntile_from_rn,
    percent_rank_from_rn,
    with_total_count,
)
from retail_sales_project_bigdata_spark.plans import (
    assert_no_unpartitioned_window,
)


def test_matches_spark_window_functions_exactly(spark):
    random.seed(7)
    for n in (1, 2, 3, 5, 17, 37, 100):
        rows = [(i, random.random()) for i in range(n)]
        df = spark.createDataFrame(rows, "id long, v double")
        order = [F.desc("v"), F.asc("id")]
        w = Window.orderBy(*order)
        expect = {
            r.id: (r.rn, r.t5, r.t3, r.pr, r.cd)
            for r in df.select(
                "id",
                F.row_number().over(w).alias("rn"),
                F.ntile(5).over(w).alias("t5"),
                F.ntile(3).over(w).alias("t3"),
                F.percent_rank().over(w).alias("pr"),
                F.cume_dist().over(w).alias("cd"),
            ).collect()
        }
        got_df = with_total_count(global_row_number(df, order, "rn"))
        got = {
            r.id: (r.rn, r.t5, r.t3, r.pr, r.cd)
            for r in got_df.select(
                "id",
                "rn",
                ntile_from_rn(F.col("rn"), F.col("_n_total"), 5).alias("t5"),
                ntile_from_rn(F.col("rn"), F.col("_n_total"), 3).alias("t3"),
                percent_rank_from_rn(F.col("rn"), F.col("_n_total")).alias("pr"),
                cume_dist_from_rn(F.col("rn"), F.col("_n_total")).alias("cd"),
            ).collect()
        }
        assert got == expect, f"n={n}"


def test_plan_has_no_single_task_window(spark):
    df = spark.range(1000).withColumn("v", F.col("id") % 97)
    ranked = global_row_number(df, [F.asc("v"), F.asc("id")], "rn")
    assert_no_unpartitioned_window(ranked)


def test_rank_is_dense_and_total(spark):
    df = spark.range(500).withColumn("v", (F.col("id") * 7919) % 101)
    ranked = global_row_number(df, [F.asc("v"), F.asc("id")], "rn")
    rns = sorted(r.rn for r in ranked.collect())
    assert rns == list(range(1, 501))


def test_grouped_helpers_match_spark_windows(spark):
    """grouped_row_number / grouped_prefix_sum == Spark's own partitioned
    window functions, element-exact (integer values)."""
    import random

    from retail_sales_project_bigdata_spark.operators.ranking import (
        grouped_prefix_sum,
        grouped_row_number,
    )

    random.seed(11)
    rows = [
        (i, random.choice(["en", "zh", "es"]), random.random(),
         random.randint(1, 50))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id long, g string, v double, tok long")
    order = [F.asc("v"), F.asc("id")]
    w = Window.partitionBy("g").orderBy(*order)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    expect = {
        r.id: (r.rn, r.cs, r.cs - r.tok)
        for r in df.select(
            "id",
            "tok",
            F.row_number().over(w).alias("rn"),
            F.sum("tok").over(wsum).alias("cs"),
        ).collect()
    }
    got_df = grouped_prefix_sum(
        grouped_row_number(df, ["g"], order, "rn"),
        ["g"], order, "tok", "cs",
    )
    got_df = grouped_prefix_sum(got_df, ["g"], order, "tok", "before",
                                exclusive=True)
    got = {r.id: (r.rn, r.cs, r.before) for r in got_df.collect()}
    assert got == expect

    # grouped_topk_rank == the rn <= k prefix of the full ranking,
    # element-exact (ADVICE r9: the WGL path was shape-tested but not in
    # the equality check).
    from retail_sales_project_bigdata_spark.operators.ranking import (
        grouped_topk_rank,
    )

    for k in (1, 7, 50):
        topk = {
            r.id: r.rk
            for r in grouped_topk_rank(df, ["g"], order, "rk", k).collect()
        }
        expect_topk = {
            i: v[0] for i, v in expect.items() if v[0] <= k
        }
        assert topk == expect_topk, f"k={k}"


def test_grouped_topk_rank_rejects_non_literal_scale_k(spark):
    """k above windowGroupLimitThreshold must fail loudly: the
    WindowGroupLimit rewrite would not fire and the window would sort
    whole strata on single tasks (ADVICE r9).  k equal to the threshold
    is the largest k the rewrite accepts."""
    import pytest

    from retail_sales_project_bigdata_spark.operators.ranking import (
        grouped_topk_rank,
    )
    from retail_sales_project_bigdata_spark.plans import node_class, nodes

    threshold = int(
        spark.conf.get("spark.sql.optimizer.windowGroupLimitThreshold")
    )
    # more rows than k, or the optimizer drops the limit as useless
    df = spark.range(3 * threshold).withColumn(
        "g", (F.col("id") % 2).cast("string")
    )
    with pytest.raises(ValueError, match="windowGroupLimitThreshold"):
        grouped_topk_rank(df, ["g"], [F.asc("id")], "rk", threshold + 1)
    at = grouped_topk_rank(df, ["g"], [F.asc("id")], "rk", threshold)
    assert "WindowGroupLimitExec" in {node_class(n) for n in nodes(at)}


def test_stratum_queries_have_no_per_stratum_window(spark):
    """The low-cardinality-stratum queries must never sort a whole
    stratum on one task.  Two compliant shapes exist: the two-phase
    path (window partitioned by the range-partition id) for full
    rankings, and — since optimization round r9 — the WindowGroupLimit
    shape for LITERAL top-k rank filters (map-side partial limit keeps
    ≤ k rows per group per map task ahead of the exchange, so the
    per-group final sort is bounded by k × #map-partitions, not the
    stratum size).  stratified_sample / priority_sample_by_source rank
    to a fixed k and use the latter; the full rankers keep the former."""
    from retail_sales_project_bigdata_spark.operators.datasetops import (
        dataset_mixture,
        pack_sequences,
        priority_sample_by_source,
        stratified_sample,
        token_budget_sample,
    )
    from retail_sales_project_bigdata_spark.plans import physical_plan
    from tests.conftest import SF_SMALL

    for q in (dataset_mixture, pack_sequences, token_budget_sample):
        plan = physical_plan(q(spark, SF_SMALL))
        assert "_rr_pid" in plan, q.__name__ + " lost the two-phase path"
    from retail_sales_project_bigdata_spark.operators.datasetops import (
        source_overlap_kmv,
    )

    for q in (stratified_sample, priority_sample_by_source,
              source_overlap_kmv):
        plan = physical_plan(q(spark, SF_SMALL))
        assert "WindowGroupLimit" in plan, (
            q.__name__ + " lost the WindowGroupLimit rewrite — a literal"
            " top-k rank filter must compile to a map-side partial limit"
        )


def test_range_pid_frame_is_cache_bounded(spark):
    """Regression (round 2): the pid-stamped range frame MUST be a cache
    boundary — with the exchange duplicated per consumer, each copy
    re-samples its range bounds and the offsets silently misalign
    (observed as nondeterministic rank corruption at 32 partitions).
    One InMemoryRelation ⇒ one exchange ⇒ one set of bounds."""
    from retail_sales_project_bigdata_spark.operators.ranking import (
        grouped_row_number,
    )
    from retail_sales_project_bigdata_spark.plans import physical_plan

    df = spark.range(2000).withColumn("g", (F.col("id") % 3).cast("string"))
    ranked = grouped_row_number(df, ["g"], [F.asc("id")], "rn",
                                num_partitions=32)
    assert "InMemoryTableScan" in physical_plan(ranked)
    # ranks stay dense per group across repeated executions
    for _ in range(2):
        got = ranked.groupBy("g").agg(
            F.count("rn").alias("n"), F.max("rn").alias("mx"),
            F.min("rn").alias("mn"), F.count_distinct("rn").alias("d")
        ).collect()
        for r in got:
            assert (r.mn, r.mx, r.d) == (1, r.n, r.n), r


def test_grouped_row_number_null_group_keys(spark):
    """Regression: rows whose GROUP key is NULL must still be ranked.
    The offsets frame carries NULL groups via eqNullSafe; a plain
    name-equality offsets join would silently drop every NULL-group row."""
    from retail_sales_project_bigdata_spark.operators.ranking import (
        grouped_prefix_sum,
        grouped_row_number,
    )

    df = spark.range(300).select(
        F.col("id"),
        F.when(F.col("id") % 3 == 0, (F.col("id") % 2).cast("string")).alias(
            "g"
        ),
        F.lit(1).alias("v"),
    )
    ranked = grouped_row_number(df, ["g"], [F.asc("id")], "rn",
                                num_partitions=8)
    assert ranked.count() == 300  # nothing dropped
    nulls = ranked.filter(F.col("g").isNull())
    n_null = nulls.count()
    assert n_null == 200
    stats = nulls.agg(F.min("rn"), F.max("rn"), F.count_distinct("rn")).first()
    assert tuple(stats) == (1, n_null, n_null)

    summed = grouped_prefix_sum(
        df, ["g"], [F.asc("id")], "v", "ps", num_partitions=8
    )
    assert summed.count() == 300
    mx = summed.filter(F.col("g").isNull()).agg(F.max("ps")).first()[0]
    assert mx == n_null
