"""Physical-plan quality gates — the 100 TB design assertions.

These tests fail if a code change silently degrades a broadcast join to
sort-merge, un-pushes a filter, stops pruning columns, or introduces a
Python eval node into a relational path.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from retail_sales_project_bigdata_spark.operators.cleaning import clean_lineitem
from retail_sales_project_bigdata_spark.operators.churn import repurchase_labels
from retail_sales_project_bigdata_spark.operators.reports import (
    sales_by_region,
    top_products,
)
from retail_sales_project_bigdata_spark.operators.rfm import rfm_demographics
from retail_sales_project_bigdata_spark.operators.segmentation import (
    segmentation_features,
)
from retail_sales_project_bigdata_spark.plans import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_no_python_eval,
    assert_pushed_filter,
    assert_read_schema_excludes,
    physical_plan,
    whole_stage_codegen_spans,
)
from retail_sales_project_bigdata_spark.sources import read_table
from tests.conftest import SF_SMALL


def test_dim_joins_broadcast(spark):
    # customer/nation/region joins in the flagship must all broadcast
    assert_broadcast_join(rfm_demographics(spark, SF_SMALL), expect_at_least=3)
    assert_broadcast_join(sales_by_region(spark, SF_SMALL), expect_at_least=3)
    assert_broadcast_join(top_products(spark, SF_SMALL), expect_at_least=1)
    assert_broadcast_join(segmentation_features(spark, SF_SMALL), expect_at_least=1)


def test_no_cartesian_products(spark):
    for q in (rfm_demographics, sales_by_region, repurchase_labels):
        assert_no_cartesian(q(spark, SF_SMALL))


def test_filter_pushdown_to_parquet(spark):
    df = (
        read_table(spark, SF_SMALL, "lineitem")
        .filter(F.col("l_quantity") > 10)
        .select("l_orderkey")
    )
    assert_pushed_filter(df, "l_quantity")
    # cleaning's quantity/price filters push down too
    assert_pushed_filter(clean_lineitem(spark, SF_SMALL), "l_quantity")


def test_column_pruning(spark):
    # a two-column projection must not scan the other nine lineitem columns
    df = read_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_partkey")
    assert_read_schema_excludes(df, "l_extendedprice")
    assert_read_schema_excludes(df, "l_shipdate")
    # rfm never needs part columns nor lineitem comment-ish fields
    assert_read_schema_excludes(rfm_demographics(spark, SF_SMALL), "l_returnflag")


def test_relational_paths_stay_jvm_side(spark):
    for q in (
        clean_lineitem,
        rfm_demographics,
        repurchase_labels,
        sales_by_region,
        segmentation_features,
    ):
        assert_no_python_eval(q(spark, SF_SMALL))


def test_codegen_active(spark):
    assert whole_stage_codegen_spans(clean_lineitem(spark, SF_SMALL)) >= 1
    # under AQE the pre-execution plan is a placeholder without codegen
    # ids — plan once with AQE off to see the codegen structure
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert whole_stage_codegen_spans(segmentation_features(spark, SF_SMALL)) >= 2
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_tpch_shapes_plans(spark):
    """Plan audit for the Q13-Q22 shape batch (tpch_shapes module)."""
    from retail_sales_project_bigdata_spark.operators import tpch_shapes as tq
    from retail_sales_project_bigdata_spark.plans import physical_plan

    for q in tq.QUERIES.values():
        df = q(spark, SF_SMALL)
        assert_no_cartesian(df)
        assert_no_python_eval(df)

    # dim sides must broadcast (part / supplier / customer)
    assert_broadcast_join(tq.promo_revenue_share(spark, SF_SMALL), 1)
    assert_broadcast_join(tq.disjunctive_revenue(spark, SF_SMALL), 1)
    assert_broadcast_join(tq.waiting_suppliers(spark, SF_SMALL), 1)
    assert_broadcast_join(tq.large_volume_customers(spark, SF_SMALL), 1)

    # Q21's EXISTS / NOT EXISTS compile to semi + anti joins, Q22's
    # "no recent orders" to an anti join — never row-exploding inners
    ws_plan = physical_plan(tq.waiting_suppliers(spark, SF_SMALL))
    assert "LeftSemi" in ws_plan, ws_plan
    assert "LeftAnti" in ws_plan, ws_plan
    assert "LeftAnti" in physical_plan(tq.idle_wealthy_customers(spark, SF_SMALL))

    # the Q14 month window must reach the lineitem scan
    assert_pushed_filter(tq.promo_revenue_share(spark, SF_SMALL), "l_shipdate")
    # Q13 never reads order payload columns
    assert_read_schema_excludes(
        tq.order_count_distribution(spark, SF_SMALL), "o_totalprice"
    )


def test_tpch_shapes3_plans(spark):
    """Plan audit for the Q2/Q8/Q11/Q12/Q16/Q20 shape batch."""
    from retail_sales_project_bigdata_spark.operators import tpch_shapes3 as t3
    from retail_sales_project_bigdata_spark.plans import physical_plan

    for q in t3.QUERIES.values():
        df = q(spark, SF_SMALL)
        assert_no_cartesian(df)
        assert_no_python_eval(df)

    # Q8's role-playing dims (part, customer, 2x nation, region, supplier)
    # must all broadcast; the only data-sized exchange is lineitem⋈orders
    assert_broadcast_join(t3.nation_market_share(spark, SF_SMALL), 4)
    # Q2/Q20: the dim lookups around the pair-grain frame broadcast
    assert_broadcast_join(t3.min_cost_supplier(spark, SF_SMALL), 2)
    assert_broadcast_join(t3.excess_quantity_suppliers(spark, SF_SMALL), 2)

    # Q12's shipdate range bounds must reach the lineitem scan
    q12 = t3.linestatus_priority_counts(spark, SF_SMALL)
    assert_pushed_filter(q12, "l_shipdate")

    # Q16: exclusion set compiles to an anti join, never a NOT-IN loop
    assert "LeftAnti" in physical_plan(t3.part_supplier_counts(spark, SF_SMALL))
    # Q20: qualifying keys semi-join the supplier dim
    assert "LeftSemi" in physical_plan(
        t3.excess_quantity_suppliers(spark, SF_SMALL)
    )


def test_latest_additions_plans(spark):
    """Plan audit for the newest operator batch."""
    from retail_sales_project_bigdata_spark.operators.datasetops import (
        chunk_documents,
    )
    from retail_sales_project_bigdata_spark.operators.olap import (
        null_semantics_probe,
        part_channel_overlap,
    )
    from retail_sales_project_bigdata_spark.operators.reports import (
        nation_revenue_share,
    )
    from retail_sales_project_bigdata_spark.operators.temporal import (
        weekly_sales_interpolated,
    )
    from retail_sales_project_bigdata_spark.operators.tpch_shapes import (
        nation_pair_volume,
    )

    for q in (
        nation_pair_volume,
        nation_revenue_share,
        null_semantics_probe,
        part_channel_overlap,
        weekly_sales_interpolated,
        chunk_documents,
    ):
        df = q(spark, SF_SMALL)
        assert_no_cartesian(df)
        assert_no_python_eval(df)

    # Q7's four dim lookups must all broadcast
    assert_broadcast_join(nation_pair_volume(spark, SF_SMALL), 3)
    assert_broadcast_join(nation_revenue_share(spark, SF_SMALL), 3)


def test_q6_q9_plans(spark):
    from retail_sales_project_bigdata_spark.operators.tpch_shapes import (
        forecast_revenue_change,
        product_type_profit,
    )

    q6 = forecast_revenue_change(spark, SF_SMALL)
    # all three predicates must reach the scan
    assert_pushed_filter(q6, "l_shipdate")
    assert_pushed_filter(q6, "l_discount")
    assert_pushed_filter(q6, "l_quantity")
    assert_no_cartesian(q6)

    q9 = product_type_profit(spark, SF_SMALL)
    assert_broadcast_join(q9, 3)
    assert_pushed_filter(q9, "p_name")  # LIKE '%red%' pushes as contains
    assert_no_python_eval(q9)


def test_no_unpartitioned_windows_in_rankers(spark):
    """VERDICT r1 item 1: the three former global-window queries must
    compile with NO single-task WindowExec (every window partitioned)."""
    from retail_sales_project_bigdata_spark.operators.datasetops import vocab_table
    from retail_sales_project_bigdata_spark.operators.reports import (
        supplier_revenue_ranks,
    )
    from retail_sales_project_bigdata_spark.operators.rfm import rfm_scores
    from retail_sales_project_bigdata_spark.plans import (
        assert_no_unpartitioned_window,
    )

    for q in (rfm_scores, supplier_revenue_ranks, vocab_table):
        df = q(spark, SF_SMALL)
        assert_no_unpartitioned_window(df)
        assert_no_python_eval(df)


def test_unpartitioned_window_assertion_detects(spark):
    from pyspark.sql.window import Window

    from retail_sales_project_bigdata_spark.plans import (
        assert_no_unpartitioned_window,
    )

    df = spark.range(10).select(
        F.row_number().over(Window.orderBy("id")).alias("rn")
    )
    import pytest

    with pytest.raises(AssertionError):
        assert_no_unpartitioned_window(df)


def test_new_northstar_paths_stay_jvm_side(spark):
    """Round-2 additions keep the relational discipline: no Python eval,
    no cartesian, and pii_scrub stays a pure map (zero exchanges)."""
    from retail_sales_project_bigdata_spark.operators.datasetops import (
        documents_jsonl_roundtrip,
    )
    from retail_sales_project_bigdata_spark.operators.similarity import (
        semantic_dedup,
    )
    from retail_sales_project_bigdata_spark.operators.textstats import (
        pii_scrub,
        unigram_freq_scores,
    )
    from retail_sales_project_bigdata_spark.plans import physical_plan

    for q in (semantic_dedup, pii_scrub, unigram_freq_scores,
              documents_jsonl_roundtrip):
        df = q(spark, SF_SMALL)
        assert_no_python_eval(df)
        assert_no_cartesian(df)
    # map-only: no KEY shuffle (fan_out may add a round-robin exchange on
    # the unsplittable single-row-group test parquet — a scan-parallelism
    # guard, not part of the operator's shape)
    assert "hashpartitioning" not in physical_plan(pii_scrub(spark, SF_SMALL))


def test_curation_plans(spark):
    """Curation additions keep the discipline: both ranked queries use the
    two-phase formulation (no single-task WindowExec) and stay JVM-side;
    the DSIR vocabulary join must not be a cartesian."""
    from retail_sales_project_bigdata_spark.operators.curation import (
        dsir_importance_weights,
        length_bucketed_batches,
    )
    from retail_sales_project_bigdata_spark.plans import (
        assert_no_unpartitioned_window,
    )

    for q in (dsir_importance_weights, length_bucketed_batches):
        df = q(spark, SF_SMALL)
        assert_no_unpartitioned_window(df)
        assert_no_python_eval(df)
        assert_no_cartesian(df)


def test_expectations_plans(spark):
    """The expectations report must stay one aggregate pass (no join, no
    window, no Python) and the quarantine a pure scan+filter projection
    (no shuffle at all)."""
    from retail_sales_project_bigdata_spark.operators.expectations import (
        documents_quarantine,
        expectations_report_all,
    )

    rep = expectations_report_all(spark, SF_SMALL)
    plan = physical_plan(rep)
    assert_no_python_eval(rep)
    assert "Join" not in plan and "WindowExec" not in plan
    quarantine = documents_quarantine(spark, SF_SMALL)
    qplan = physical_plan(quarantine)
    assert_no_python_eval(quarantine)
    assert "hashpartitioning" not in qplan and "Exchange" not in qplan


def test_triangle_counts_plan(spark):
    """Triangle counting must broadcast the degree dim and never plan a
    cartesian; everything stays JVM-side.  Asserted on the LAZY pipeline
    frames — the query entry itself reads a localCheckpoint whose plan
    is an opaque `Scan ExistingRDD`."""
    from retail_sales_project_bigdata_spark.operators.graph import (
        triangle_pipeline_frames,
    )

    _deg, per_node, _oriented = triangle_pipeline_frames(spark, SF_SMALL)
    plan = physical_plan(per_node)
    assert_no_python_eval(per_node)
    assert_no_cartesian(per_node)
    assert "BroadcastHashJoin" in plan


def test_ngram_lm_counts_partial_topk(spark):
    """The successor rank must plan as WindowGroupLimit (map-side partial
    top-k before the shuffle) and stay JVM-side."""
    from retail_sales_project_bigdata_spark.operators.textstats import (
        ngram_lm_counts,
    )
    from retail_sales_project_bigdata_spark.plans import physical_plan

    df = ngram_lm_counts(spark, SF_SMALL)
    assert "WindowGroupLimit" in physical_plan(df)
    assert_no_python_eval(df)


def test_fan_out_only_in_front_of_heavy_map_work(spark):
    """The single-file test scan arrives as one partition.  Plain
    aggregates, per-row projections and vectorized Python stages read it
    as it comes; per-pair dot-product work still fans it out."""
    from retail_sales_project_bigdata_spark.operators.dedup import dedup_exact
    from retail_sales_project_bigdata_spark.operators.multimodal import (
        decode_media,
        resize_media,
    )
    from retail_sales_project_bigdata_spark.operators.similarity import (
        ann_bruteforce_topk_numpy,
        embedding_near_dup_pairs,
        semantic_dedup,
    )
    from retail_sales_project_bigdata_spark.operators.textstats import (
        text_quality,
    )
    from retail_sales_project_bigdata_spark.plans import node_class, nodes

    def round_robin_exchanges(df):
        return sum(
            node_class(n) == "ShuffleExchangeExec"
            and node_class(n.outputPartitioning()) == "RoundRobinPartitioning"
            for n in nodes(df)
        )

    for q in (text_quality, dedup_exact, resize_media, decode_media,
              ann_bruteforce_topk_numpy):
        assert round_robin_exchanges(q(spark, SF_SMALL)) == 0, q.__name__
    for q in (embedding_near_dup_pairs, semantic_dedup):
        assert round_robin_exchanges(q(spark, SF_SMALL)) >= 1, q.__name__
