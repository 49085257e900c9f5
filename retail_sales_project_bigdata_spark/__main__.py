"""CLI entry points (SURVEY §2.12) — the spark-submit surface.

The reference ships six driver mains with ad-hoc arg parsing
(``ChurnPrediction.java:27-41`` ``--base/--window`` flags,
``MarketBasketAnalysis.java:75-87`` positionals,
``SegmentationPrediction.java:18-23`` ``household_key <id> | manual``
modes).  The rebuild exposes one argparse CLI:

    python -m retail_sales_project_bigdata_spark <job> [options]

    jobs: preprocess | churn | baskets | recommend | segmentation |
          top-products | query <name> | explain <name> |
          profile <name> [<name> ...]

Each job builds its plan through the operators package and writes/prints
results — the same code paths the driver contract exercises.
Every job runs inside one ``registry.query_scope``, which releases what
the job persisted.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="retail_sales_project_bigdata_spark")
    p.add_argument(
        "--sf-dir",
        default="/root/testdata/sf0.01",
        help="testdata directory (parquet tables)",
    )
    p.add_argument("--cpus", type=int, default=None, help="local[N] parallelism")
    sub = p.add_subparsers(dest="job", required=True)

    sp = sub.add_parser("preprocess", help="ETL fan-out (4 parquet sinks)")
    sp.add_argument("out_dir")
    sp.add_argument("--verbose", action="store_true")

    sc = sub.add_parser("churn", help="repurchase labeling + RF AUC")
    sc.add_argument("--window", type=int, default=90, help="repurchase window days")
    sc.add_argument("--train", action="store_true", help="also train/evaluate RF")

    sb = sub.add_parser("baskets", help="FP-Growth frequent itemsets")
    sb.add_argument("out_path", nargs="?", default=None)
    sb.add_argument("--min-support", type=float, default=None)

    sub.add_parser("recommend", help="ALS top-5 per customer")

    sg = sub.add_parser("segmentation", help="KMeans k-sweep metrics")
    sg.add_argument("--predict", type=int, default=None, metavar="CUSTKEY")
    sg.add_argument(
        "--manual",
        type=float,
        nargs=6,
        default=None,
        metavar="F",
        help="score one manual feature row: total_sales total_quantity "
        "n_baskets n_products n_brands avg_sales "
        "(SegmentationPrediction.java manual mode)",
    )

    st = sub.add_parser("top-products", help="top products report")
    st.add_argument("--limit", type=int, default=20)

    sd = sub.add_parser(
        "build-dataset",
        help="end-to-end training-corpus build (quality -> dedup -> split -> versioned publish)",
    )
    sd.add_argument("out_dir")

    sq = sub.add_parser("query", help="run any queries() entry by name")
    sq.add_argument("name")
    sq.add_argument("--limit", type=int, default=20)

    se = sub.add_parser(
        "explain",
        help="print a registered query's physical plan (formatted)",
    )
    se.add_argument("name")
    se.add_argument(
        "--mode",
        default="formatted",
        choices=["simple", "extended", "codegen", "cost", "formatted"],
    )

    sub.add_parser("list", help="list every registered query name")

    spr = sub.add_parser(
        "profile",
        help="warm up, then run each named query through "
        "profiling.profile_query (bench.py's timed path) and print one "
        "JSON line per name: build and execution time, job/stage/task "
        "counts, and plan facts; repeat a name for cold + warm runs",
    )
    spr.add_argument("names", nargs="+", metavar="name")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    if args.job == "list":
        # metadata only — no reason to boot a JVM for it
        from retail_sales_project_bigdata_spark.registry import (
            queries as reg_queries,
        )

        for name in sorted(reg_queries()):
            print(name)
        return 0

    from retail_sales_project_bigdata_spark.operators import baskets, churn
    from retail_sales_project_bigdata_spark.registry import query_scope
    from retail_sales_project_bigdata_spark.session import get_spark

    spark = get_spark(
        f"cli_{args.job}",
        master=f"local[{args.cpus}]" if args.cpus else None,
    )
    # The churn and baskets jobs set these module constants from their
    # flags; the rest of the process keeps the defaults.
    defaults = churn.REPURCHASE_WINDOW_DAYS, baskets.MIN_SUPPORT
    try:
        with query_scope(spark):
            return _run_job(args, spark)
    finally:
        churn.REPURCHASE_WINDOW_DAYS, baskets.MIN_SUPPORT = defaults


def _run_job(args: argparse.Namespace, spark) -> int:
    sf = args.sf_dir
    if args.job == "preprocess":
        from retail_sales_project_bigdata_spark.operators.pipeline import (
            run_preprocessing_pipeline,
        )

        out = run_preprocessing_pipeline(spark, sf, args.out_dir, args.verbose)
        print(json.dumps(out))
    elif args.job == "churn":
        import retail_sales_project_bigdata_spark.operators.churn as churn_mod

        churn_mod.REPURCHASE_WINDOW_DAYS = args.window
        if args.train:
            from retail_sales_project_bigdata_spark.ml.pipelines import (
                churn_model_metrics,
            )

            churn_model_metrics(spark, sf).show()
        else:
            churn_mod.cohort_rates(spark, sf).show()
    elif args.job == "build-dataset":
        from retail_sales_project_bigdata_spark.operators.datasetops import (
            build_training_dataset,
        )

        print(json.dumps(build_training_dataset(spark, sf, args.out_dir)))
    elif args.job == "baskets":
        import retail_sales_project_bigdata_spark.operators.baskets as bk

        if args.min_support is not None:
            bk.MIN_SUPPORT = args.min_support
        itemsets = bk.fpgrowth_itemsets(spark, sf)
        if args.out_path:
            from pyspark.sql import functions as F

            from retail_sales_project_bigdata_spark.sources import write_text_lines

            lines = itemsets.select(
                F.concat_ws(
                    "\t", F.col("freq").cast("string"), F.col("itemset")
                ).alias("value")
            )
            write_text_lines(lines, args.out_path)
            print(args.out_path)
        else:
            itemsets.orderBy("itemset").show(50, False)
    elif args.job == "recommend":
        from retail_sales_project_bigdata_spark.operators.recommend import (
            als_recommendations,
        )

        als_recommendations(spark, sf).show(25)
    elif args.job == "segmentation":
        from retail_sales_project_bigdata_spark.operators.segmentation import (
            kmeans_sweep,
            segment_assignments,
        )

        if args.manual is not None:
            from retail_sales_project_bigdata_spark.operators.segmentation import (
                score_manual_row,
            )

            score_manual_row(spark, sf, args.manual).show()
        elif args.predict is not None:
            from pyspark.sql import functions as F

            segment_assignments(spark, sf).filter(
                F.col("custkey") == args.predict
            ).show()
        else:
            kmeans_sweep(spark, sf).show()
    elif args.job == "top-products":
        from retail_sales_project_bigdata_spark.operators.reports import top_products

        top_products(spark, sf).limit(args.limit).show(args.limit, False)
    elif args.job == "profile":
        from retail_sales_project_bigdata_spark.profiling import (
            profile_query,
            warmup,
        )

        warmup(spark, sf)
        for name in args.names:
            print(json.dumps(profile_query(spark, name, sf)), flush=True)
    elif args.job in ("query", "explain"):
        from retail_sales_project_bigdata_spark.registry import queries as reg_queries

        queries = reg_queries()
        if args.name not in queries:
            print(
                f"unknown query {args.name!r}; available: {sorted(queries)}",
                file=sys.stderr,
            )
            return 2
        df = queries[args.name](spark, sf)
        if args.job == "explain":
            df.explain(mode=args.mode)
        else:
            df.show(args.limit, False)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
