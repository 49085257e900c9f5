"""Physical-plan inspection helpers (the ".explain and iterate" loop).

Used by tests, tools and the profiler to assert the plans are the ones a
100 TB deployment needs: broadcast joins on dims, pushed filters, pruned
columns, no Python UDFs in relational paths.

Every plan fact comes from one walk over the physical node objects
(:func:`nodes`), never from the plan's text: the tree string reprints a
cached relation's body at each of its scan sites, and under AQE prints
both the initial and the final plan, so text counts multiply.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def node_class(node) -> str:
    return node.getClass().getSimpleName()


def nodes(df_or_jplan) -> Iterator:
    """Yield each distinct physical node (py4j ``SparkPlan``) once.

    Accepts a DataFrame (its ``executedPlan``) or a JVM ``SparkPlan``.
    Descends through AQE wrappers (``AdaptiveSparkPlanExec.executedPlan``,
    ``*QueryStageExec.plan``), children, and inner children — subqueries,
    and for a cached scan the ``InMemoryRelation``'s cached plan.  Nodes
    are deduplicated by ``SparkPlan.id``, so a cached body read by several
    consumers yields once; a ``ReusedExchangeExec`` is a leaf that refers
    to an exchange yielded elsewhere.  A query stage's ``id`` is its stage
    number, which restarts in every adaptive plan, so a stage is keyed by
    the node it wraps.
    """
    root = (
        df_or_jplan._jdf.queryExecution().executedPlan()
        if isinstance(df_or_jplan, DataFrame)
        else df_or_jplan
    )
    seen: set[tuple[bool, int]] = set()
    stack = [root]
    while stack:
        n = stack.pop()
        name = node_class(n)
        stage = name.endswith("QueryStageExec")
        key = (stage, n.plan().id() if stage else n.id())
        if key in seen:
            continue
        seen.add(key)
        yield n
        if name == "AdaptiveSparkPlanExec":
            stack.append(n.executedPlan())
        elif stage:
            stack.append(n.plan())
        stack.extend(_seq(n.children()))
        for inner in _seq(n.innerChildren()):
            if node_class(inner) == "InMemoryRelation":
                inner = inner.cacheBuilder().cachedPlan()
            stack.append(inner)


_PYTHON_PACKAGE = "org.apache.spark.sql.execution.python"
_COUNTED = {
    "BroadcastExchangeExec": "broadcast_exchanges",
    "BroadcastHashJoinExec": "broadcast_hash_joins",
    "SortMergeJoinExec": "sort_merge_joins",
    "ShuffledHashJoinExec": "shuffled_hash_joins",
    "BroadcastNestedLoopJoinExec": "nested_loop_joins",
    "CartesianProductExec": "cartesian",
    "WholeStageCodegenExec": "codegen_spans",
}


def plan_facts(df_or_jplan) -> dict[str, int]:
    """Scale-relevant node counts over :func:`nodes`.

    - ``shuffle_exchanges``: hash-partitioned shuffles (the keyed shuffles
      a rewrite can add); ``other_shuffle_exchanges``: range, round-robin
      and single-partition shuffles; ``broadcast_exchanges``.
    - ``broadcast_hash_joins``, ``sort_merge_joins``,
      ``shuffled_hash_joins``, ``nested_loop_joins``, ``cartesian``.
    - ``codegen_spans``: whole-stage-codegen nodes.  Not distinct
      ``codegenStageId`` values: those restart in every cached plan and
      every adaptive query stage.
    - ``python_eval``: scalar-UDF eval nodes (``*EvalPython*Exec``), banned
      in relational paths.  ``python_eval_nodes``: every node that runs
      Python workers, including the sanctioned Arrow group-map and
      map-in-pandas nodes.
    """
    facts = dict.fromkeys(
        ("shuffle_exchanges", "other_shuffle_exchanges", *_COUNTED.values(),
         "python_eval", "python_eval_nodes"),
        0,
    )
    for n in nodes(df_or_jplan):
        cls = n.getClass()
        name = cls.getSimpleName()
        if name == "ShuffleExchangeExec":
            hashed = node_class(n.outputPartitioning()) == "HashPartitioning"
            facts["shuffle_exchanges" if hashed else "other_shuffle_exchanges"] += 1
        elif name in _COUNTED:
            facts[_COUNTED[name]] += 1
        elif cls.getPackage().getName() == _PYTHON_PACKAGE:
            facts["python_eval_nodes"] += 1
            facts["python_eval"] += "EvalPython" in name
    return facts


def _scans(df: DataFrame) -> list:
    return [n for n in nodes(df) if node_class(n) == "FileSourceScanExec"]


def assert_broadcast_join(df: DataFrame, expect_at_least: int = 1) -> None:
    """The dim joins must compile to BroadcastHashJoin — a sort-merge join
    of fact × dim shuffles the fact side (terabytes at production scale)."""
    n = plan_facts(df)["broadcast_hash_joins"]
    assert n >= expect_at_least, (
        f"expected ≥{expect_at_least} BroadcastHashJoin, found {n}:\n"
        + physical_plan(df)
    )


def assert_no_cartesian(df: DataFrame) -> None:
    assert plan_facts(df)["cartesian"] == 0, (
        "unplanned cartesian product:\n" + physical_plan(df)
    )


def assert_pushed_filter(df: DataFrame, column: str) -> None:
    """Predicate pushdown check: a file scan must push a filter on
    ``column`` to the source."""
    pushed = {
        ref
        for scan in _scans(df)
        for f in _seq(scan.pushedDownFilters())
        for ref in f.references()
    }
    assert column in pushed, (
        f"filter on {column} not pushed to scan (pushed: {sorted(pushed)}):\n"
        + physical_plan(df)
    )


def assert_read_schema_excludes(df: DataFrame, column: str) -> None:
    """Column pruning check: no file scan's read schema fetches ``column``."""
    for scan in _scans(df):
        fields = list(scan.requiredSchema().fieldNames())
        assert column not in fields, (
            f"column {column} not pruned from scan: {fields}"
        )


def assert_no_python_eval(df: DataFrame) -> None:
    """Relational operators must stay JVM-side (no BatchEvalPython /
    ArrowEvalPython nodes) — Python rows are the 10-100× slow path."""
    assert plan_facts(df)["python_eval"] == 0, (
        "Python UDF in relational plan:\n" + physical_plan(df)
    )


def whole_stage_codegen_spans(df: DataFrame) -> int:
    """Number of WholeStageCodegen spans (wider is better — fewer breaks).
    Under AQE, plans containing shuffles report 0 until executed — plan
    with ``spark.sql.adaptive.enabled=false`` to inspect structure."""
    return plan_facts(df)["codegen_spans"]


def assert_no_unpartitioned_window(df: DataFrame) -> None:
    """Every WindowExec must carry a partitionSpec — a global window
    (``Window.orderBy`` with no partitionBy) funnels the entire frame
    through ONE task (Spark warns ``WindowExec: No Partition Defined``)."""
    for n in nodes(df):
        if node_class(n) == "WindowExec":
            assert not n.partitionSpec().isEmpty(), (
                "unpartitioned (single-task) window:\n" + physical_plan(df)
            )
