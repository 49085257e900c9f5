"""The benchmark's workloads and the layer map its metrics follow.

A workload is a scale factor for the generated tables plus an ordered list
of ops.  A *query* op is a registry name: the harness calls its builder
and materializes the DataFrame with the noop sink.  A *write* op publishes an
op's output to parquet through the engine's own ``sources`` write path.
The seed fixes the op order within each pass and the generated data.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    sf: float
    queries: tuple[str, ...]
    writes: tuple[str, ...] = field(default=())

    def ops(self, seed: int) -> list[str]:
        """Every op of one pass, shuffled by ``seed``."""
        ops = list(self.queries) + list(self.writes)
        random.Random(seed).shuffle(ops)
        return ops


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "retail_reports",
            "The reference's relational reports: JVM scan, shuffle and "
            "aggregation to the noop sink, with the Python workers idle.",
            0.002,
            (
                "clean_lineitem",
                "rfm",
                "top_products",
                "pricing_summary",
                "baskets_flat",
                "weekly_demand",
                "household_penetration",
                "cohort_rates",
                "sales_by_region",
            ),
        ),
        Workload(
            "corpus_pipeline",
            "The LLM-data surface: pandas/numpy Python workers and "
            "higher-order functions, plus a versioned publish to parquet.",
            0.002,
            (
                "text_quality",
                "dedup_exact",
                "ann_bruteforce_topk_numpy",
                "resize_media",
            ),
            ("quality_publish",),
        ),
    )
}


def run_write(spark, name: str, sf_dir: str, out_dir: str) -> int:
    """Run a write op into ``out_dir``; returns the published version."""
    if name == "quality_publish":
        from retail_sales_project_bigdata_spark.operators.textstats import text_quality
        from retail_sales_project_bigdata_spark.sources import publish_versioned

        return publish_versioned(
            text_quality(spark, sf_dir), os.path.join(out_dir, "quality"), partition_by="source"
        )
    raise KeyError(name)


# Which end-to-end metric each per-layer metric is expected to move, and
# on which workload.  Printed with the traced run's records.
LAYER_MAP = {
    "session.*": "setup_s on every workload",
    "build.*": "pass_s and query_p50_s where builders launch Spark jobs "
    "before returning their DataFrame (corpus_pipeline)",
    "plan.*": "pass_s and query_p50_s on both workloads (fixed per-op cost)",
    "exec.*": "pass_s on retail_reports and corpus_pipeline",
    "pyworker.*": "pass_s on corpus_pipeline; no change on retail_reports, "
    "which runs no Python nodes",
    "cache.*, memo.*": "the driver JVM's peak memory (jvm_peak_rss_mb) on corpus_pipeline",
    "write.*": "pass_s on corpus_pipeline, through its quality_publish op",
}
