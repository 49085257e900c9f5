"""Semantic-dedup PAIR-STAGE probe → SCALING.md (VERDICT r8 item 2).

Round 8 linearized the LSH twin's *assignment* (4.7×/decade vs the exact
twin's designed n^1.5 = 35.6×), but `_semdedup_labels`' within-cluster
self-join kept the Σ|cluster|² term — super-linear whenever clusters are
dense.  Round 9 bounds it: members are ranked within each cluster by
(cos_p desc, vec_id) and cut into blocks of SEMDEDUP_CLUSTER_CAP, and the
pair join keys on (cluster, block), so pair volume is <= n·CAP/2 by
construction.

This probe MEASURES that bound per data decade for BOTH twins: for each
SF dir it builds the assignment frame, then computes from the block-size
distribution (one groupBy — the pairs are never materialized):

  n            corpus size
  k            pivots (ceil sqrt n)
  max_cluster  largest cluster before the cap
  max_block    largest block after the cap (must be <= CAP)
  pairs_uncapped   Σ|cluster|·(|cluster|-1)/2 — what the r8 code scanned
  pairs_capped     Σ|block|·(|block|-1)/2     — what the r9 code scans

and prints markdown rows plus the decade-over-decade ratio of
pairs_capped (the number SCALING.md records).

Usage: python tools/semdedup_pair_probe.py [sf_dir ...]
       (default: /root/testdata/sf0.1 .scale/sf1 .scale/sf10)
       python tools/semdedup_pair_probe.py --skew [sf_dir]
       (skewed-cluster stress: force 30% of the corpus into ONE cluster
       — the dense regime VERDICT r8 flagged — and measure the capped
       pair volume plus the wall-clock of the full label stage; the
       uncapped volume is reported arithmetically, it would be |c|²/2)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEFAULT_SFS = [
    "/root/testdata/sf0.1",
    os.path.join(REPO, ".scale", "sf1"),
    os.path.join(REPO, ".scale", "sf10"),
]


def probe(spark, sf_dir: str, twins: set | None = None) -> dict:
    from pyspark.sql import functions as F

    from retail_sales_project_bigdata_spark.operators.similarity import (
        SEMDEDUP_CLUSTER_CAP,
        _num_pivots,
        _semdedup_assigned_exact,
        _semdedup_assigned_lsh_from,
        _semdedup_capped,
        _vectors,
    )
    from retail_sales_project_bigdata_spark.sources import read_table

    n = read_table(spark, sf_dir, "embeddings").count()
    out: dict = {"sf_dir": sf_dir, "n": n, "k": _num_pivots(n), "twins": {}}
    builders = {
        "exact": lambda: _semdedup_assigned_exact(spark, sf_dir),
        "lsh": lambda: _semdedup_assigned_lsh_from(
            _vectors(spark, sf_dir), n
        ),
    }
    for twin, build in builders.items():
        if twins is not None and twin not in twins:
            continue
        assigned = build()
        stats = (
            _semdedup_capped(assigned)
            .groupBy("cluster", "_sub")
            .count()
            .groupBy("cluster")
            .agg(
                F.sum("count").alias("csize"),
                F.max("count").alias("max_block"),
                F.sum(F.expr("count * (count - 1) / 2")).alias("cap_pairs"),
            )
            .agg(
                F.max("csize").alias("max_cluster"),
                F.max("max_block").alias("max_block"),
                F.sum(F.expr("csize * (csize - 1) / 2")).alias(
                    "pairs_uncapped"
                ),
                F.sum("cap_pairs").alias("pairs_capped"),
            )
            .collect()[0]
        )
        assigned.unpersist()
        assert stats["max_block"] <= SEMDEDUP_CLUSTER_CAP, stats
        out["twins"][twin] = {
            "max_cluster": int(stats["max_cluster"]),
            "max_block": int(stats["max_block"]),
            "pairs_uncapped": int(stats["pairs_uncapped"]),
            "pairs_capped": int(stats["pairs_capped"]),
        }
    return out


def probe_skew(spark, sf_dir: str) -> None:
    """Dense-regime stress: reassign vec_id % 10 < 3 (30% of the corpus)
    to cluster 0 on top of the exact twin's real assignment, then run
    the SHARED label stage end-to-end and report pair volumes + time."""
    import time

    from pyspark.sql import functions as F

    from retail_sales_project_bigdata_spark.operators.similarity import (
        SEMDEDUP_CLUSTER_CAP,
        _semdedup_assigned_exact,
        _semdedup_capped,
        _semdedup_labels,
    )

    assigned = _semdedup_assigned_exact(spark, sf_dir).withColumn(
        "cluster",
        F.when(F.col("vec_id") % 10 < 3, F.lit(0).cast("long")).otherwise(
            F.col("cluster")
        ),
    )
    n = assigned.count()
    mega = n * 3 // 10
    stats = (
        _semdedup_capped(assigned)
        .groupBy("cluster", "_sub")
        .count()
        .agg(
            F.max("count").alias("max_block"),
            F.sum(F.expr("count * (count - 1) / 2")).alias("pairs_capped"),
        )
        .collect()[0]
    )
    assert stats["max_block"] <= SEMDEDUP_CLUSTER_CAP, stats
    t0 = time.time()
    out = _semdedup_labels(assigned)
    n_out = out.count()
    n_surv = out.filter("is_survivor = 1").count()
    wall = time.time() - t0
    print(f"skew stress @ {sf_dir}: n={n}, mega-cluster={mega} (30%)")
    print(
        f"  pairs_uncapped(mega alone) = {mega * (mega - 1) // 2}"
        f"  pairs_capped(total) = {int(stats['pairs_capped'])}"
        f"  (bound n*CAP/2 = {n * SEMDEDUP_CLUSTER_CAP // 2})"
    )
    print(
        f"  label stage end-to-end: {wall:.1f}s,"
        f" rows={n_out}, survivors={n_surv}"
    )


def main() -> None:
    from retail_sales_project_bigdata_spark.session import get_spark

    if sys.argv[1:2] == ["--skew"]:
        spark = get_spark("semdedup-pair-probe")
        probe_skew(
            spark, sys.argv[2] if len(sys.argv) > 2 else DEFAULT_SFS[-1]
        )
        return
    argv = sys.argv[1:]
    twins = None
    if argv[:1] == ["--twins"]:
        # e.g. --twins lsh: skip the exact twin where its n·k assignment
        # is the bottleneck (sf100: 2M vectors x 1415 pivots = 2.8B
        # cosines — the very cost the LSH twin exists to avoid)
        twins = set(argv[1].split(","))
        argv = argv[2:]
    sfs = argv or DEFAULT_SFS
    spark = get_spark("semdedup-pair-probe")
    rows = [probe(spark, sf, twins) for sf in sfs]
    print(
        "| sf_dir | n | k | twin | max_cluster | max_block |"
        " pairs_uncapped | pairs_capped | capped ×/decade |"
    )
    print("|---|---|---|---|---|---|---|---|---|")
    for i, r in enumerate(rows):
        for twin, t in r["twins"].items():
            prev = rows[i - 1]["twins"][twin]["pairs_capped"] if i else None
            ratio = (
                f"{t['pairs_capped'] / prev:.1f}x"
                if prev
                else "-"
            )
            print(
                f"| {r['sf_dir']} | {r['n']} | {r['k']} | {twin} |"
                f" {t['max_cluster']} | {t['max_block']} |"
                f" {t['pairs_uncapped']} | {t['pairs_capped']} | {ratio} |"
            )


if __name__ == "__main__":
    main()
