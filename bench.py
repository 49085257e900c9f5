"""Benchmark harness: runs the headline queries at ``SF_DIR``
($SPARK_GRAFT_SF_DIR, default the sf0.1 testdata) on
``local[session.CPUS]`` and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query runs through ``profiling.profile_query``, the same path as
``python -m retail_sales_project_bigdata_spark profile <name>``: the
builder, then a ``toRdd().count()`` over the query's own execution (full
execution, no rows to the driver, no output I/O).  A query's time is
``build_sec + wall_sec``.  ``bench_out.json`` and
``bench_out_c<cpus>.json`` also carry ``profiles``: per query, the
``profile_query`` record of the run whose time was kept.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from retail_sales_project_bigdata_spark.profiling import (
    profile_query,
    warm_python_workers,
    warmup,
)
from retail_sales_project_bigdata_spark.session import CPUS, get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Iterative ML model training (M1-M5) is excluded from the throughput
# benchmark: those queries measure MLlib convergence, not engine execution
# (they run under tests/test_ml.py property checks instead).
ML_TRAINING_QUERIES = {
    "als_recommendations",
    "quality_classifier_scores",
    "kmeans_sweep",
    "segment_assignments",
    "churn_model_metrics",
    "fpgrowth_itemsets",
}

# Warm re-time: the slowest RETIME_TOP cold queries, then every other
# query at or above RETIME_MIN_S seconds within a time budget (see main).
RETIME_TOP = 48
RETIME_MIN_S = 0.5
# Byte budget of the one-line stdout summary (see the end of main).
STDOUT_BUDGET = 3400


def main() -> None:
    spark = get_spark("bench")
    warmup(spark, SF_DIR)
    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    queries = {
        k: v
        for k, v in entrymod.queries().items()
        if k not in ML_TRAINING_QUERIES
    }

    # Protocol (VERDICT r2 task 1 / r3 A-A evidence; widened r7): single-
    # execution timings on this VM swing up to 7.7x run-over-run on
    # IDENTICAL code (scheduler/GC noise), so one cold pass is NOT
    # representative.  The run is therefore: (1) a cold pass over
    # every query, then (2) a warm RE-TIME of (a) the slowest RETIME_TOP
    # queries, and (b) — new in r7, closing
    # VERDICT r6 item 6 — EVERY remaining query whose cold time >=
    # RETIME_MIN_S, cheapest-first under an explicit time budget:
    # BENCH_r06 showed a ~+2s fixed per-query spike inflating dozens of
    # sub-second queries 3-7x while falling OUTSIDE the slowest-48
    # window.  Cheapest-first maximizes corrected-queries-per-second (a
    # fixed +2s distorts a 0.3s query 7x but a 6s query only 1.3x, and
    # the 6s queries are already in the slowest-K set).  Per query the
    # recorded value is min(cold, warm) — the timeit-style lower-bound
    # estimator, robust to additive noise.  Any >= RETIME_MIN_S query
    # the budget could not reach is listed in ``retime_skipped`` so the
    # artifact self-documents which values may still carry cold-pass
    # noise.
    #
    # The budget SCALES with the query set (VERDICT r7 item 2): the
    # fixed 180s budget left 30 cold-only values in BENCH_r07 that read
    # as fake >=2x regressions until cross-checked against
    # ``retime_skipped``.  2.5 s/query covers the observed re-time cost
    # distribution (median warm re-time < 1 s, p95 ~4 s) with slack, so
    # the run re-times every >= RETIME_MIN_S query and the artifact
    # carries no cold-only noise.
    retime_budget = max(180.0, 2.5 * len(queries))

    def timed(name: str) -> tuple[float, dict]:
        # profile_query's scope releases what the query persisted, so
        # executor memory stays bounded over the 200+-query set.  Its
        # release runs outside the timed spans.
        prof = profile_query(spark, name, SF_DIR)
        return round(prof["build_sec"] + prof["wall_sec"], 3), prof

    cold_runs = {name: timed(name) for name in sorted(queries)}
    cold = {n: t for n, (t, _) in cold_runs.items()}
    slowest = [
        n
        for n, t in sorted(cold.items(), key=lambda kv: -kv[1])
        if t >= RETIME_MIN_S
    ][:RETIME_TOP]
    # refork != query cost (see profiling.warm_python_workers)
    warm_python_workers(spark)
    warm_runs = {name: timed(name) for name in sorted(slowest)}
    # Budgeted sweep over everything else >= RETIME_MIN_S, cheapest
    # cold time first (see protocol comment above).
    extra = sorted(
        (
            n
            for n, t in cold.items()
            if t >= RETIME_MIN_S and n not in warm_runs
        ),
        key=lambda n: cold[n],
    )
    spent = 0.0
    skipped: list[str] = []
    for n in extra:
        if spent >= retime_budget:
            skipped.append(n)
            continue
        t0 = time.perf_counter()
        warm_runs[n] = timed(n)
        spent += time.perf_counter() - t0
    warm = {n: t for n, (t, _) in warm_runs.items()}
    # min(cold, warm), and the profile of the run that gave it (cold on
    # a tie).
    kept = {
        n: min(run, warm_runs.get(n, run), key=lambda r: r[0])
        for n, run in cold_runs.items()
    }
    timings = {n: t for n, (t, _) in kept.items()}
    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "query_set_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf else None,
        "runs": 1,
        "run_totals": [total],
        "cold_pass": cold,
        "warm_retimed": warm,
        # >= RETIME_MIN_S queries the warm-retime budget could not reach:
        # their recorded value is a SINGLE cold execution and may carry
        # additive scheduler noise (empty when the budget covered all).
        "retime_skipped": sorted(skipped),
        "profiles": {n: prof for n, (_, prof) in kept.items()},
        "protocol": (
            "1 full run(s): cold pass over all queries, then warm "
            f"re-time of the slowest {RETIME_TOP}, then every remaining "
            f"query >= {RETIME_MIN_S}s cheapest-first within a "
            f"{retime_budget}s budget; per-query value = min(cold, warm) "
            "(timeit-style lower bound); retime_skipped lists >= "
            "threshold queries the budget missed (cold-only values); "
            "each query built and run in its own query_scope through "
            "profiling.profile_query (a toRdd().count() over the query's "
            "own execution, not a noop write; value = build_sec + "
            "wall_sec), warmed JVM"
        ),
    }
    line = json.dumps(payload, separators=(",", ":"))
    # Full payload (every per-query value) goes to disk; stdout gets a
    # SHORT line.  The driver's stdout capture keeps only a ~4 KB tail,
    # so round 1's full 150+-query line arrived decapitated and recorded
    # parsed=null (VERDICT r1 item 3: "keep the stdout line minimal
    # (summary + path)").  The short line carries the headline metric
    # plus the slowest queries; everything else is in queries_file.
    out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "bench_out.json")
    with open(out_path, "w") as fh:
        fh.write(line + "\n")
    # Per-core-count copy (optimization round r10, VERDICT r9 item 2):
    # the driver benches the SAME tree at two core counts, and the second
    # run used to overwrite bench_out.json — destroying the first run's
    # full per-query record and leaving the scaling comparison with only
    # the two truncated stdout lists to intersect.  A cpus-suffixed copy
    # preserves each run's full map.  Purely additive (bench_out.json
    # still written, same content).
    out_path_c = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        f"bench_out_c{CPUS}.json",
    )
    with open(out_path_c, "w") as fh:
        fh.write(line + "\n")
    # Stdout truncation is now BYTE-BUDGETED instead of a fixed top-10
    # (VERDICT r9 item 2: a 10-entry list let improved queries silently
    # leave the round-over-round comparable set while regressions entered
    # it, and starved the driver's scaling intersection).  The driver's
    # stdout capture keeps only a ~4 KB tail (VERDICT r1 item 3 recorded
    # a decapitated full-map line), so the line must stay comfortably
    # under that; within the budget we include as many SLOWEST-first
    # entries as fit — in practice ~4-6x more names than before.  Still
    # one JSON line; all existing keys unchanged; entries only added.
    by_slowest = sorted(timings.items(), key=lambda kv: -kv[1])

    def _summary_for(n_q: int) -> dict:
        return dict(
            payload,
            queries=dict(by_slowest[:n_q]),
            n_queries=len(timings),
            n_retimed=len(warm),
            n_retime_skipped=len(skipped),
            queries_truncated_to=(
                f"{n_q} slowest (byte-budgeted); full set in queries_file"
            ),
            queries_file=out_path,
        )

    n_q = len(by_slowest)
    summary = _summary_for(n_q)
    # The full cold/warm breakdowns and the profiles live in the file
    # only — the driver's stdout capture keeps a ~4 KB tail.
    def _encode(s: dict) -> str:
        s = dict(s)
        s.pop("cold_pass", None)
        s.pop("warm_retimed", None)
        s.pop("retime_skipped", None)
        s.pop("profiles", None)
        return json.dumps(s, separators=(",", ":"))

    while n_q > 10 and len(_encode(summary)) > STDOUT_BUDGET:
        # Shrink geometrically-ish: drop the cheapest included entries
        # until the line fits (each entry is ~30 bytes).
        over = len(_encode(summary)) - STDOUT_BUDGET
        n_q = max(10, n_q - max(1, over // 25))
        summary = _summary_for(n_q)
    print(_encode(summary))


if __name__ == "__main__":
    main()
