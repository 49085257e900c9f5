"""The registry merges every operator module's QUERIES/ORACLES and
fails loudly on a name two modules both register, or on an oracle
with no query."""

from __future__ import annotations

import types

import pytest

from retail_sales_project_bigdata_spark import registry


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
