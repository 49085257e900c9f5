"""Per-microbatch plan gate for the streaming queries — the one budget
gap the batch plan suite can't cover (tools/plan_budget.py excludes
``streaming_*``: a finished streaming query returns a memory-sink scan;
the real plans are compiled per trigger).

Each streaming query is driven to completion and the LAST EXECUTED
micro-batch plan's ``plan_facts`` (captured by ``_run_to_memory`` just
before the stream stops) are held to the same scale facts the batch budgets pin: no
row-at-a-time / Arrow scalar Python eval (``*EvalPython``) and no
cartesian product.  ``applyInPandasWithState`` plans as
``FlatMapGroupsInPandasWithState`` — the sanctioned stateful escape
hatch — and deliberately does NOT trip the EvalPython counter, same as
the batch suite's treatment of group-map Arrow nodes.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL


def _streaming_queries():
    from retail_sales_project_bigdata_spark import streaming

    return sorted(streaming.QUERIES)


@pytest.mark.parametrize("name", _streaming_queries())
def test_microbatch_plan_within_budget(spark, name):
    from retail_sales_project_bigdata_spark import streaming

    before = set(streaming.LAST_MICROBATCH_FACTS)
    streaming.QUERIES[name](spark, SF_SMALL)
    new = {
        k: v
        for k, v in streaming.LAST_MICROBATCH_FACTS.items()
        if k not in before
    }
    assert new, f"{name} started no captured stream"
    for sink, facts in new.items():
        # a stream that executed ZERO micro-batches has no plan — that
        # would pass the budget checks vacuously, so require one
        assert facts is not None, (
            f"{name}/{sink}: no micro-batch ever executed; capture is "
            "not load-bearing"
        )
        assert facts["python_eval"] == 0, (
            f"{name}/{sink}: Python eval node in a micro-batch plan: {facts}"
        )
        assert facts["cartesian"] == 0, (
            f"{name}/{sink}: cartesian product in a micro-batch plan: {facts}"
        )
