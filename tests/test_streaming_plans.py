"""Per-microbatch plan gate for the streaming queries — the one budget
gap the batch plan suite can't cover (tools/plan_budget.py excludes
``streaming_*``: a finished streaming query returns a memory-sink scan;
the real plans are compiled per trigger).

Each streaming query is driven to completion by the registry sweep's
one build (``tests.conftest.registry_run``), which records every stream
the build starts; the LAST EXECUTED micro-batch plan of each, read from
the stopped ``StreamingQuery``, is held to the same scale facts the
batch budgets pin: no row-at-a-time / Arrow scalar Python eval
(``*EvalPython``) and no cartesian product.  ``applyInPandasWithState``
plans as ``FlatMapGroupsInPandasWithState`` — the sanctioned stateful
escape hatch — and deliberately does NOT trip the EvalPython counter,
same as the batch suite's treatment of group-map Arrow nodes.
"""

from __future__ import annotations

import pytest

from tests.conftest import assert_microbatch_plans_within_budget, registry_run


def _streaming_queries():
    from retail_sales_project_bigdata_spark import streaming

    return sorted(streaming.QUERIES)


@pytest.mark.parametrize("name", _streaming_queries())
def test_microbatch_plan_within_budget(spark, duck, name):
    run = registry_run(spark, duck, name)
    assert run.streams, f"{name} started no stream"
    assert_microbatch_plans_within_budget(name, run)
