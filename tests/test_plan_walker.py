"""plans.nodes / plans.plan_facts on hand-built frames: each distinct
physical node counts once, wherever the plan text would repeat it."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import functions as F

from retail_sales_project_bigdata_spark.plans import node_class, nodes, plan_facts


@contextmanager
def _conf(spark, **settings):
    prev = {k: spark.conf.get(k) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


AQE = "spark.sql.adaptive.enabled"
NO_BROADCAST = {"spark.sql.autoBroadcastJoinThreshold": "-1"}


def _keyed(spark):
    return spark.range(200).withColumn("g", F.col("id") % 7)


def test_cached_aggregate_read_twice_counts_once(spark):
    """The tree string reprints a cached body at each scan site; the
    body's shuffle and broadcast join execute once."""
    dim = spark.range(7).withColumnRenamed("id", "g")
    with _conf(spark, **{AQE: "false"}, **NO_BROADCAST):
        cached = (
            _keyed(spark).groupBy("g").agg(F.count("*").alias("n"))
            .join(F.broadcast(dim), "g")
            .persist()
        )
        try:
            df = cached.join(cached.withColumnRenamed("n", "m"), "g")
            facts = plan_facts(df)
            scans = [
                n for n in nodes(df) if node_class(n) == "InMemoryTableScanExec"
            ]
        finally:
            cached.unpersist()
    assert len(scans) == 2
    # the cache keeps the body's hash partitioning on g, so the
    # sort-merge join adds no shuffle of its own
    assert facts["shuffle_exchanges"] == 1, facts
    assert facts["broadcast_exchanges"] == 1, facts
    assert facts["broadcast_hash_joins"] == 1, facts
    assert facts["sort_merge_joins"] == 1, facts


def test_reused_exchange_is_not_a_second_shuffle(spark):
    agg = _keyed(spark).groupBy("g").agg(F.sum("id").alias("s"))
    with _conf(spark, **{AQE: "false"}, **NO_BROADCAST):
        df = agg.join(agg.withColumnRenamed("s", "s2"), "g")
        classes = [node_class(n) for n in nodes(df)]
        facts = plan_facts(df)
    assert "ReusedExchangeExec" in classes
    assert facts["shuffle_exchanges"] == 1, facts


def test_scalar_subquery_exchanges_are_seen(spark):
    _keyed(spark).createOrReplaceTempView("walker_t")
    with _conf(spark, **{AQE: "false"}):
        df = spark.sql(
            "SELECT id FROM walker_t WHERE id > "
            "(SELECT max(c) FROM (SELECT g, count(*) c FROM walker_t GROUP BY g))"
        )
        facts = plan_facts(df)
    assert "SubqueryExec" in {node_class(n) for n in nodes(df)}
    # the subquery's group-by shuffle and its global-max single partition
    assert facts["shuffle_exchanges"] == 1, facts
    assert facts["other_shuffle_exchanges"] == 1, facts


def test_executed_adaptive_plan_matches_static_plan(spark):
    """AQE prints the initial and the final plan, and its final plan
    wraps exchanges in query stages; each exchange still counts once:
    the aggregate's (reused by the self-join) and the regrouping's."""

    def frame():
        agg = _keyed(spark).groupBy("g").agg(F.sum("id").alias("s"))
        return agg.join(agg.withColumnRenamed("s", "s2"), "g").groupBy(
            (F.col("s") % 3).alias("k")
        ).agg(F.sum("s2"))

    with _conf(spark, **{AQE: "false"}, **NO_BROADCAST):
        static = plan_facts(frame())["shuffle_exchanges"]
    with _conf(spark, **{AQE: "true"}, **NO_BROADCAST):
        df = frame()
        df._jdf.queryExecution().toRdd().count()
        classes = {node_class(n) for n in nodes(df)}
        executed = plan_facts(df)["shuffle_exchanges"]
    assert "ShuffleQueryStageExec" in classes
    assert static == executed == 2
