"""Anchor input-size guards (VERDICT r1 item 2): the quadratic exactness
anchors must fail loudly above the configured bound and pass untouched
below it."""

from __future__ import annotations

import pytest

from retail_sales_project_bigdata_spark.operators.guards import (
    ANCHOR_MAX_ROWS_ENV,
    guard_anchor_rows,
)
from tests.conftest import SF_SMALL


def test_guard_passes_below_bound(spark):
    guard_anchor_rows(spark.range(10), "toy", "none")  # no raise


def test_guard_fires_exactly_past_bound(spark, monkeypatch):
    """A bound of 5 admits 5 rows and rejects 6."""
    monkeypatch.delenv(ANCHOR_MAX_ROWS_ENV, raising=False)
    guard_anchor_rows(spark.range(5), "toy", "none", default_bound=5)
    with pytest.raises(ValueError, match="6 rows > bound 5"):
        guard_anchor_rows(spark.range(6), "toy", "none", default_bound=5)


def test_guard_raises_above_bound(spark, monkeypatch):
    monkeypatch.setenv(ANCHOR_MAX_ROWS_ENV, "5")
    with pytest.raises(ValueError, match="exactness ANCHOR"):
        guard_anchor_rows(spark.range(10), "toy", "the_lsh_twin")
    # error names the scale path and the override knob
    try:
        guard_anchor_rows(spark.range(10), "toy", "the_lsh_twin")
    except ValueError as e:
        assert "the_lsh_twin" in str(e)
        assert ANCHOR_MAX_ROWS_ENV in str(e)


def test_anchor_queries_guarded_end_to_end(spark, monkeypatch):
    from retail_sales_project_bigdata_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from retail_sales_project_bigdata_spark.operators.similarity import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_numpy,
    )

    monkeypatch.setenv(ANCHOR_MAX_ROWS_ENV, "2")
    for q in (
        ngram_jaccard_pairs,
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_numpy,
    ):
        with pytest.raises(ValueError, match="exactness ANCHOR"):
            q(spark, SF_SMALL)
    monkeypatch.delenv(ANCHOR_MAX_ROWS_ENV)
    # below the default bound the anchors still run
    assert embedding_near_dup_pairs(spark, SF_SMALL).count() >= 0
