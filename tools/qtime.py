"""Per-query isolation harness for the optimization rounds (guide §1).

Times individual registry queries with the noop sink on a warmed session
(same methodology as bench.py: cold + N warm repeats, min reported), and
optionally dumps ``explain("formatted")`` to a file per query.

Usage:
    python tools/qtime.py q1 q2 ...            # time each, 1 cold + 2 warm
    python tools/qtime.py --repeat 3 q1 ...
    python tools/qtime.py --explain-dir /tmp/explain --suffix before q1 ...
    python tools/qtime.py --explain-only --explain-dir /tmp/explain ... q1

Reads the testdata directory and core count the way bench.py does
(``bench.SF_DIR``, ``session.CPUS``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

import bench  # noqa: E402
from retail_sales_project_bigdata_spark import registry  # noqa: E402
from retail_sales_project_bigdata_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--repeat", type=int, default=2,
                    help="warm repeats after the cold run (default 2)")
    ap.add_argument("--explain-dir", default=None,
                    help="dump explain('formatted') per query here")
    ap.add_argument("--suffix", default="",
                    help="file suffix for explain dumps (before/after)")
    ap.add_argument("--explain-only", action="store_true")
    args = ap.parse_args()

    spark = get_spark("qtime")
    bench.warmup(spark)
    queries = registry.queries()
    out: dict[str, dict] = {}
    for name in args.names:
        if name not in queries:
            print(f"!! unknown query: {name}", file=sys.stderr)
            continue
        spark.sparkContext.setJobDescription(f"qtime:{name}")
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            sfx = f"_{args.suffix}" if args.suffix else ""
            path = os.path.join(args.explain_dir, f"{name}{sfx}.txt")
            with registry.query_scope(spark):
                df = queries[name](spark, bench.SF_DIR)
                txt = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted")
            with open(path, "w") as fh:
                fh.write(txt)
            print(f"explain -> {path}")
        if args.explain_only:
            continue
        times = []
        for _ in range(1 + args.repeat):
            with registry.query_scope(spark):
                t0 = time.perf_counter()
                bench.materialize(queries[name](spark, bench.SF_DIR))
                times.append(round(time.perf_counter() - t0, 3))
        out[name] = {"cold": times[0], "warm": times[1:],
                     "min": min(times)}
        print(f"{name}: cold={times[0]} warm={times[1:]} min={min(times)}")
        spark.sparkContext.setJobDescription(None)
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
