"""The engine's query registry: every implemented operator from
SURVEY.md §2 (+ the north-star training-data ops), importable from the
package itself so library users, the CLI (``__main__.py``: ``query`` /
``explain`` subcommands), ``bench.py`` and the driver contract
(``__spark_entry__.py``) all share ONE surface.

``queries()`` maps name → ``(spark, sf_dir) -> DataFrame``;
``oracle_sql()`` maps the oracle-checkable subset to equivalent DuckDB
SQL (omitted only for genuinely non-SQL-expressible ops: ML models,
seeded LSH/IVF/PQ variants, iterative/streaming state).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from retail_sales_project_bigdata_spark import streaming as streaming_mod
from retail_sales_project_bigdata_spark.ml import pipelines as ml_pipelines
from retail_sales_project_bigdata_spark.operators import (
    asof,
    baskets,
    calendar as calendar_mod,
    cdc,
    churn,
    cleaning,
    curation,
    datasetops,
    dedup,
    dunnhumby,
    expectations,
    funnel,
    governance,
    graph,
    modeleval,
    multimodal,
    olap,
    rangejoin,
    recommend,
    retrieval,
    reports,
    rfm,
    segmentation,
    sessions,
    similarity,
    skew,
    stats,
    temporal,
    textstats,
    tpch_shapes,
    tpch_shapes3,
)

_MODULES = [
    cleaning,
    dunnhumby,
    rfm,
    temporal,
    churn,
    reports,
    baskets,
    recommend,
    segmentation,
    textstats,
    dedup,
    datasetops,
    curation,
    expectations,
    similarity,
    retrieval,
    sessions,
    multimodal,
    olap,
    funnel,
    governance,
    graph,
    modeleval,
    stats,
    calendar_mod,
    asof,
    skew,
    cdc,
    rangejoin,
    tpch_shapes,
    tpch_shapes3,
    streaming_mod,
]

# ML model queries (rows-only by nature)
_EXTRA_QUERIES = {
    "churn_model_metrics": ml_pipelines.churn_model_metrics,
    "quality_classifier_scores": ml_pipelines.quality_classifier_scores,
}


def _merge(attr: str, extra: dict | None = None) -> dict:
    """Merge every module's ``attr`` dict in module order, failing LOUD
    on a name two modules both register (a plain ``dict.update`` would
    silently keep the later one)."""
    out: dict = {}
    owner: dict[str, str] = {}
    sources = [(m.__name__, getattr(m, attr)) for m in _MODULES]
    if extra:
        sources.append((f"{__name__}._EXTRA_{attr}", extra))
    for src, entries in sources:
        for name, value in entries.items():
            if name in out:
                raise RuntimeError(
                    f"{attr} name {name!r} registered by both "
                    f"{owner[name]} and {src}"
                )
            out[name] = value
            owner[name] = src
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _merge("QUERIES", _EXTRA_QUERIES)


def oracle_sql() -> dict[str, str]:
    out = _merge("ORACLES")
    orphans = sorted(set(out) - set(queries()))
    if orphans:
        raise RuntimeError(f"ORACLES names with no registered query: {orphans}")
    return out


def clear_session_memos() -> None:
    """Drop every module-level per-(session, sf_dir) memo (the
    ``_*_CACHE`` dicts: BPE training, triangle pipeline, segmentation
    prep/sweep).  Sharing a memo BETWEEN the queries of one logical run
    is intended engine behavior; carrying it ACROSS repeated benchmark
    runs in one process is not — ``bench.py`` calls this between full-set
    runs so each run's per-query times reflect cold pipelines, and the
    ML tests use it for isolation."""
    for mod in _MODULES:
        for attr, val in vars(mod).items():
            if attr.endswith("_CACHE") and isinstance(val, dict):
                val.clear()
