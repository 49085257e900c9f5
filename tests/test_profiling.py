"""profile_df/profile_query: runtime + plan profile fields are present
and consistent."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL


def test_profile_query_fields(spark):
    from retail_sales_project_bigdata_spark.profiling import profile_query

    prof = profile_query(spark, "rfm", SF_SMALL)
    assert prof["label"] == "rfm"
    assert prof["wall_sec"] > 0
    assert prof["jobs"] >= 1
    assert prof["stages"] >= 1
    assert prof["tasks"] >= 1
    assert prof["failed_tasks"] == 0
    assert prof["python_eval_nodes"] == 0  # rfm is fully relational
    assert prof["codegen_spans"] >= 1
    # every read uses its declared schema: building rfm runs no job
    assert prof["build_jobs"] == 0
    assert prof["build_sec"] > 0

    with pytest.raises(KeyError):
        profile_query(spark, "no_such_query", SF_SMALL)


def test_profile_counts_python_stage(spark):
    from retail_sales_project_bigdata_spark.profiling import profile_query

    prof = profile_query(spark, "ann_mmr_topk", SF_SMALL)
    assert prof["python_eval_nodes"] >= 1  # the applyInPandas rerank
    assert prof["failed_tasks"] == 0


def test_profile_counts_construction_jobs(spark):
    """Jobs a builder runs before returning its DataFrame are counted:
    the ANN brute-force builder collects its query block to the driver."""
    from retail_sales_project_bigdata_spark.profiling import profile_query

    prof = profile_query(spark, "ann_bruteforce_topk_numpy", SF_SMALL)
    assert prof["build_jobs"] >= 1
    assert prof["failed_tasks"] == 0


def test_profile_reports_executed_plan_facts(spark):
    """A cached fan-out read twice plus one broadcast join, counted by
    hand: the cached aggregate's shuffle runs once, the dim join adds one
    broadcast exchange and one broadcast hash join, the union adds
    nothing.  The plan text, by contrast, prints the cached body at both
    scan sites and, under AQE, prints the initial and the final plan."""
    from pyspark.sql import functions as F

    from retail_sales_project_bigdata_spark.plans import plan_facts
    from retail_sales_project_bigdata_spark.profiling import profile_df

    agg = (
        spark.range(1000)
        .groupBy((F.col("id") % 10).alias("g"))
        .agg(F.count("*").alias("n"))
        .persist()
    )
    try:
        dim = spark.range(10).withColumnRenamed("id", "g")
        df = agg.join(F.broadcast(dim), "g").unionByName(agg.filter("g > 4"))
        prof = profile_df(df, label="fanout")
        facts = plan_facts(df)
    finally:
        agg.unpersist()
    assert {k: prof[k] for k in facts} == facts
    assert facts.pop("codegen_spans") >= 1
    assert facts == {
        "shuffle_exchanges": 1,
        "other_shuffle_exchanges": 0,
        "broadcast_exchanges": 1,
        "broadcast_hash_joins": 1,
        "sort_merge_joins": 0,
        "shuffled_hash_joins": 0,
        "nested_loop_joins": 0,
        "cartesian": 0,
        "python_eval": 0,
        "python_eval_nodes": 0,
    }


@pytest.mark.parametrize(
    "name",
    [
        "embedding_near_dup_pairs_lsh",
        "embedding_near_dup_recall_lsh",
        "semantic_dedup",
        "semantic_dedup_lsh",
    ],
)
def test_embedding_sizing_reads_the_footer(spark, name):
    """These builders size their geometry from the embeddings row count.
    Read from the parquet footer, it costs no job: the builders run no
    Spark job before they return, where a ``count()`` of the table would
    run two."""
    from retail_sales_project_bigdata_spark.profiling import profile_query

    assert profile_query(spark, name, SF_SMALL)["build_jobs"] == 0


def test_cli_profile_prints_one_record_per_name(spark, capsys):
    """``profile rfm rfm`` warms up once, then prints one
    ``profile_query`` record per name: a cold run and a warm run."""
    import json

    from retail_sales_project_bigdata_spark import __main__ as cli

    assert cli.main(["--sf-dir", SF_SMALL, "profile", "rfm", "rfm"]) == 0
    lines = capsys.readouterr().out.splitlines()
    assert len(lines) == 2
    for line in lines:
        prof = json.loads(line)
        assert prof["label"] == "rfm"
        assert prof["build_jobs"] == 0
        assert prof["failed_tasks"] == 0
