"""Plan-budget regression gate: every registered query's physical plan
must stay within its checked-in budget of shuffle exchanges,
python-eval nodes, and cartesian products (tests/plan_budgets.json,
generated by tools/plan_budget.py from ``plans.plan_facts``).

Nothing executes — plans are compiled only — so the whole sweep is
seconds.  A failure means a code change added a shuffle / Python node
to a plan the 100 TB design had already minimized: either fix the
regression or consciously re-budget with
``python tools/plan_budget.py`` and review the JSON diff.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

from tests.conftest import REPO, SF_SMALL, cache_entry_count

sys.path.insert(0, os.path.join(REPO, "tools"))

BUDGET_PATH = os.path.join(os.path.dirname(__file__), "plan_budgets.json")


def test_headline_plans_within_budget(spark):
    from retail_sales_project_bigdata_spark.plans import plan_facts
    from retail_sales_project_bigdata_spark.registry import (
        queries,
        query_scope,
    )

    with open(BUDGET_PATH) as f:
        budgets = json.load(f)

    from plan_budget import budgeted_names

    missing = sorted(set(budgeted_names(queries())) - set(budgets))
    assert not missing, (
        f"queries without a plan budget: {missing} — run "
        "`python tools/plan_budget.py` and review the JSON diff"
    )

    # tests/conftest.py runs every test in its own query_scope, so no
    # earlier test leaves a cached subtree behind; one would plan as
    # InMemoryTableScan here and hide the exchanges under it.
    assert cache_entry_count(spark) == 0, "a cache entry outlived its test"

    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        qs = queries()
        over: list[str] = []
        for name, budget in sorted(budgets.items()):
            # one scope per query, as in tools/plan_budget.py: a query
            # that persists at build time must not leave cached subtrees
            # that re-plan later queries as InMemoryTableScan.
            with query_scope(spark):
                s = plan_facts(qs[name](spark, SF_SMALL))
            for key, cap in budget.items():
                if s[key] > cap:
                    over.append(f"{name}.{key}: {s[key]} > budget {cap}")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    assert not over, "plan-budget regressions:\n" + "\n".join(over)


def test_budget_file_is_consistent():
    """Budgets lock exactly the keys tools/plan_budget.py emits, and no
    budgeted query allows a cartesian product."""
    from plan_budget import BUDGET_KEYS

    with open(BUDGET_PATH) as f:
        budgets = json.load(f)
    assert budgets, "empty budget file"
    # MLlib's recommendForAllUsers computes top-k over a BLOCKED cross
    # join of user x item factor blocks — a bounded, by-design cartesian
    # (factor matrices, not facts).  Everything else: zero.
    cartesian_ok = {"als_recommendations"}
    for name, b in budgets.items():
        assert set(b) == set(BUDGET_KEYS), name
        if name not in cartesian_ok:
            assert b["cartesian"] == 0, (
                f"{name} budgets a cartesian product"
            )
