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

from collections.abc import Callable, Iterator
from contextlib import contextmanager

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
    """No-op kept for callers outside the package (the benchmark harness
    calls it between passes).  No query keeps state from one query to
    the next any more: what a query persists is released by
    :func:`query_scope`, so there is no memo left to clear."""


def _cache_entries(cache_manager) -> list:
    """The session's ``CachedData`` entries.  ``CacheManager`` exposes
    only their count, so the private field is read by reflection."""
    field = cache_manager.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    entries = field.get(cache_manager)
    return [entries.apply(i) for i in range(entries.size())]


def _temp_views(jsession) -> set[str]:
    """Names of the session's local temp views."""
    names = jsession.sessionState().catalog().getTempViewNames()
    return {names.apply(i) for i in range(names.size())}


def _map_keys(jmap) -> set:
    """Keys of a Java map.  Through ``toArray()``: iterating the key set
    itself ends in a Java ``NoSuchElementException`` that pyspark's
    error conversion inspects, ~17 ms a read."""
    return set(jmap.keySet().toArray())


@contextmanager
def query_scope(spark: SparkSession) -> Iterator[None]:
    """Release every temp view, cache entry and persisted RDD created
    inside.

    Builders persist and localCheckpoint the frames their returned
    DataFrame reads, and register temp views it reads (the SQL-API
    query's views, each streaming query's memory-sink view), so only the
    caller that builds AND acts can free them::

        with registry.query_scope(spark):
            df = queries()[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()

    On exit, also when the body raises, every temp view of ``spark``,
    every ``CacheManager`` entry and every persistent RDD that did not
    exist when the scope opened is dropped.  What existed before stays,
    including the buffers a pre-existing cache entry first fills inside
    the scope.  Do not read a frame built inside after the scope closes:
    its views and its cached and checkpointed inputs are gone."""
    jsession = spark._jsparkSession
    cache_manager = jsession.sharedState().cacheManager()
    jsc = spark.sparkContext._jsc
    views_before = _temp_views(jsession)
    entries_before = set(_cache_entries(cache_manager))
    rdds_before = _map_keys(jsc.getPersistentRDDs())
    try:
        yield
    finally:
        for view in _temp_views(jsession) - views_before:
            spark.catalog.dropTempView(view)
        for entry in _cache_entries(cache_manager):
            if entry not in entries_before:
                cache_manager.uncacheQuery(jsession, entry.plan(), False, False)
        keep = set(rdds_before)
        for entry in _cache_entries(cache_manager):
            builder = entry.cachedRepresentation().cacheBuilder()
            if builder.isCachedColumnBuffersLoaded():
                keep.add(builder.cachedColumnBuffers().id())
        persistent = jsc.getPersistentRDDs()  # a snapshot map
        for rdd_id in _map_keys(persistent) - keep:
            persistent.get(rdd_id).unpersist(False)
