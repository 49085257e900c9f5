"""The registry merges every operator module's QUERIES/ORACLES and
fails loudly on a name two modules both register, or on an oracle
with no query; ``query_scope`` releases what its body persisted."""

from __future__ import annotations

import types

import pytest

from retail_sales_project_bigdata_spark import registry
from tests.conftest import (
    cache_entry_count,
    persistent_rdd_ids,
    temp_view_names,
)


def _module(name: str, queries=(), oracles=()) -> types.ModuleType:
    mod = types.ModuleType(name)
    mod.QUERIES = {q: (lambda spark, sf_dir: None) for q in queries}
    mod.ORACLES = {o: "SELECT 1" for o in oracles}
    return mod


def _install(monkeypatch, *mods, extra=None):
    monkeypatch.setattr(registry, "_MODULES", list(mods))
    monkeypatch.setattr(registry, "_EXTRA_QUERIES", extra or {})


def test_distinct_names_merge_in_module_order(monkeypatch):
    _install(
        monkeypatch,
        _module("mod_a", ["q2", "q1"], ["q1"]),
        _module("mod_b", ["q3"]),
        extra={"q0": lambda spark, sf_dir: None},
    )
    assert list(registry.queries()) == ["q2", "q1", "q3", "q0"]
    assert registry.oracle_sql() == {"q1": "SELECT 1"}


def test_query_registered_twice_names_both_modules(monkeypatch):
    _install(monkeypatch, _module("mod_a", ["q1"]), _module("mod_b", ["q1"]))
    with pytest.raises(RuntimeError, match=r"'q1'.*mod_a.*mod_b"):
        registry.queries()


def test_query_shadowing_an_extra_query_is_loud(monkeypatch):
    _install(
        monkeypatch,
        _module("mod_a", ["q1"]),
        extra={"q1": lambda spark, sf_dir: None},
    )
    with pytest.raises(RuntimeError, match=r"'q1'.*mod_a.*_EXTRA_QUERIES"):
        registry.queries()


def test_oracle_registered_twice_names_both_modules(monkeypatch):
    _install(
        monkeypatch,
        _module("mod_a", ["q1"], ["q1"]),
        _module("mod_b", ["q2"], ["q1"]),
    )
    with pytest.raises(RuntimeError, match=r"ORACLES.*'q1'.*mod_a.*mod_b"):
        registry.oracle_sql()


def test_oracle_without_query_is_loud(monkeypatch):
    _install(monkeypatch, _module("mod_a", ["q1"], ["q1", "q9"]))
    with pytest.raises(RuntimeError, match=r"no registered query.*'q9'"):
        registry.oracle_sql()


def test_query_scope_releases_when_the_action_raises(spark):
    from pyspark.sql import functions as F

    rdds_before = persistent_rdd_ids(spark)
    entries_before = cache_entry_count(spark)
    raised = []
    with pytest.raises(Exception, match="scope-boom") as info:
        with registry.query_scope(spark):
            cached = spark.range(40).selectExpr("id * 3 AS v").cache()
            cached.count()
            spark.range(20).localCheckpoint(eager=True)
            assert persistent_rdd_ids(spark) - rdds_before
            try:
                cached.select(F.raise_error(F.lit("scope-boom"))).collect()
            except Exception as exc:
                raised.append(exc)
                raise
    assert info.value is raised[0]
    assert not persistent_rdd_ids(spark) - rdds_before
    assert cache_entry_count(spark) == entries_before


def test_query_scope_keeps_a_frame_cached_before_it(spark):
    rdds_before = persistent_rdd_ids(spark)
    # cached before the scope, but its buffers first fill inside it
    kept = spark.range(50).selectExpr("id * 7 AS k").cache()
    entries_before = cache_entry_count(spark)
    try:
        with registry.query_scope(spark):
            inner = spark.range(10).selectExpr("id * 7 AS k").cache()
            assert kept.join(inner, "k").count() == 10
        assert cache_entry_count(spark) == entries_before
        assert kept.storageLevel.useMemory
        filled = persistent_rdd_ids(spark) - rdds_before
        assert len(filled) == 1, filled  # kept's buffers, and only those
    finally:
        kept.unpersist(blocking=True)
    assert not persistent_rdd_ids(spark) & filled


def test_query_scope_drops_only_temp_views_created_inside(spark):
    spark.range(3).createOrReplaceTempView("scope_kept_view")
    try:
        with registry.query_scope(spark):
            spark.range(5).createOrReplaceTempView("scope_inner_view")
            assert spark.table("scope_inner_view").count() == 5
        views = temp_view_names(spark)
        assert "scope_inner_view" not in views
        assert "scope_kept_view" in views
    finally:
        spark.catalog.dropTempView("scope_kept_view")
