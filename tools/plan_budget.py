"""Generate tests/plan_budgets.json — the checked-in per-query plan
budgets that tests/test_plan_budgets.py enforces.

Each registered query gets a budget of scale-relevant plan facts
(shuffle exchange count, python-eval node count, cartesian products).
The test rebuilds every plan (analysis only — nothing executes) and
fails if any count EXCEEDS its budget, so a rewrite that silently adds
a shuffle or drops work into row-at-a-time Python breaks the suite
instead of the 100 TB run.  Re-run this script only when a plan change
is intentional; the diff of the JSON is then the review artifact.

Usage: python tools/plan_budget.py [sf_dir]   (writes the JSON)
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from retail_sales_project_bigdata_spark.plans import plan_facts  # noqa: E402

BUDGET_PATH = os.path.join(REPO, "tests", "plan_budgets.json")

# The plan_facts keys a budget locks down. Broadcast/sort-merge join
# MIXES are left to `python -m retail_sales_project_bigdata_spark
# explain|profile <name>`: AQE may legitimately flip SMJ→broadcast at
# runtime, but it never *adds* a shuffle exchange to a logical plan or
# introduces a Python eval node — those only regress via code.
# ``shuffle_exchanges`` counts hash-partitioned shuffles, each distinct
# node once (a cached body read by several consumers executes once).
# ``python_eval`` counts Batch/ArrowEvalPython (scalar row/batch UDFs —
# banned in relational paths, budget 0 everywhere) and deliberately NOT
# the sanctioned Arrow group-map nodes (FlatMapGroupsInPandas /
# MapInPandas), which are the designed escape hatch for ML rerank and
# media decode.
BUDGET_KEYS = ("shuffle_exchanges", "python_eval", "cartesian")


def budgeted_names(queries: dict) -> list[str]:
    """Every registered query EXCEPT the streaming set: a streaming
    query's builder runs a memory-sink stream to completion and returns
    the result table, so its "plan" is a memory scan — the real
    micro-batch plans are compiled per-trigger at runtime.  Those are
    held to the same python_eval/cartesian facts by
    tests/test_streaming_plans.py: the registry sweep's one build per
    name records the streams it starts, and each one's LAST EXECUTED
    micro-batch plan is read from the stopped query."""
    return sorted(n for n in queries if not n.startswith("streaming_"))


def current_counts(sf_dir: str) -> dict[str, dict[str, int]]:
    import __spark_entry__ as entrymod
    from retail_sales_project_bigdata_spark.registry import query_scope
    from retail_sales_project_bigdata_spark.session import get_spark

    spark = get_spark("plan_budget")
    # count on the pre-AQE plan so budgets are deterministic (an
    # unexecuted adaptive plan has not yet reused exchanges).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    queries = entrymod.queries()
    out: dict[str, dict[str, int]] = {}
    for name in budgeted_names(queries):
        # one scope per query: a query that persists at build time (e.g.
        # the skyline's bucket summaries) would otherwise plan as
        # InMemoryTableScan inside LATER queries' plans, shifting their
        # exchange counts by compile order.
        with query_scope(spark):
            facts = plan_facts(queries[name](spark, sf_dir))
        out[name] = {k: facts[k] for k in BUDGET_KEYS}
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    budgets = current_counts(sf_dir)
    with open(BUDGET_PATH, "w") as f:
        json.dump(budgets, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {BUDGET_PATH} ({len(budgets)} queries)")


if __name__ == "__main__":
    main()
