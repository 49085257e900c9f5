"""Benchmark of the Spark engine: one workload per invocation.

    python3 perfbench/run.py --workload retail_reports --seed 1 --seconds 10 --trace 0

Run from the repository root.  One run:

1. fits Spark to the host: ``SPARK_GRAFT_CPUS`` = usable cores, a driver
   heap sized to the host's memory, and a private ``SPARK_LOCAL_DIRS`` and
   temp dir under ``.perfbench_run/`` (removed at exit);
2. generates the workload's tables from ``--seed`` (``datagen.py``);
3. sets a session up in a fresh driver JVM (``session.get_spark`` +
   warm-up) and times that;
4. runs one untimed pass that checks every op's output (``check.py``); it
   is also the warm-up pass, reported apart;
5. runs timed passes until ``--seconds`` have passed and at least
   ``MIN_PASSES`` ran.  The driver JVM's JIT keeps warming for several
   passes, so a fixed pass count keeps runs comparable, and the median
   sets the slowest (first) pass aside.  With ``--trace 1`` traced passes alternate with the
   timed ones and the per-layer records go to ``.perfbench_out/``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with ``--trace 1``
the per-layer ones).  The line before it carries the run's details: host,
per-pass and per-op times, the latency sample count, failures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_PASSES = 3


def host_fit(run_dir: str) -> dict:
    """Spark settings sized to this host, exported before the package is
    imported (it reads ``SPARK_GRAFT_CPUS`` at import)."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_gib = int(fh.readline().split()[1]) / 2**20
    heap_gib = max(1, min(8, int(mem_gib // 4)))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_gib}g",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    os.environ.pop("SPARK_MASTER", None)
    return {"nproc": cores, "mem_gib": round(mem_gib, 1), "heap": f"{heap_gib}g", "tmp": tmp}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "retail_sales_project_bigdata_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    from workloads import LAYER_MAP, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]

    run_dir = os.path.join(ROOT, ".perfbench_run", f"{os.getpid()}")
    host = host_fit(run_dir)
    try:
        return _run(args, wl, run_dir, host, LAYER_MAP)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, wl, run_dir: str, host: dict, layer_map: dict) -> int:
    import pyspark

    import datagen
    import harness
    import probe
    from check import Checker

    data_dir = os.path.join(run_dir, "data")
    t0 = time.perf_counter()
    datagen.write_tables(data_dir, wl.sf, args.seed)
    datagen_s = time.perf_counter() - t0

    session = harness.start_session(data_dir, host.pop("tmp"))
    try:
        spark = session.spark
        host["java"] = spark._jvm.System.getProperty("java.version")
        host["pyspark"] = pyspark.__version__
        runner = harness.Runner(spark, wl, args.seed, data_dir, os.path.join(run_dir, "out"))
        checker = Checker(data_dir)
        try:
            check = runner.check_pass(checker)
        finally:
            checker.close()
        timed: list = []
        traced: list = []
        min_timed = 1 if args.trace else MIN_PASSES
        t_start = time.perf_counter()
        while (
            time.perf_counter() - t_start < args.seconds
            or len(timed) < min_timed
            or (args.trace and not traced)
        ):
            timed.append(runner.timed_pass())
            if args.trace:
                traced.append(runner.traced_pass())
        rss_mb = probe.peak_rss_mb(session.jvm_pid)
    finally:
        harness.stop_session(session)

    n_ops = len(runner.ops)
    failures = {**check.failures}
    for i, p in enumerate(timed + traced):
        failures.update({f"{op}@pass{i + 1}": msg for op, msg in p.failures.items()})
    attempted = n_ops * (1 + len(timed) + len(traced))

    lat = [v for p in timed for v in p.latencies.values()]
    tail_pct = harness.tail_pct(n_ops * MIN_PASSES)
    details = {
        "workload": wl.name,
        "seed": args.seed,
        "sf": wl.sf,
        "host": host,
        "ops": runner.ops,
        "datagen_s": round(datagen_s, 3),
        "setup_s": round(session.get_spark_s + session.warmup_s, 3),
        "check_pass_s": round(check.wall_s, 3),
        "check_op_s": {op: round(v, 3) for op, v in check.latencies.items()},
        "pass_s": [round(p.wall_s, 3) for p in timed],
        "pass_quartiles_s": [round(q, 3) for q in _quartiles([p.wall_s for p in timed])],
        "op_latency_s": {
            op: [round(p.latencies[op], 3) for p in timed if op in p.latencies] for op in runner.ops
        },
        "query_samples": len(lat),
        "query_tail_pct": tail_pct,
        "jvm_peak_rss_mb": round(rss_mb, 1),
        "failed_frac": round(len(failures) / attempted, 6),
        "failures": failures,
    }

    if args.trace:
        values, records_path = _trace_metrics(wl, args.seed, traced, timed, session, runner.cores, layer_map)
        values["jvm_peak_rss_mb"] = rss_mb
        details["trace_records"] = os.path.relpath(records_path, ROOT)
        details["tracing_overhead"] = round(values["trace.overhead"], 4)
        details["layer_self_share"] = round(values.pop("layer_self_share"), 4)
    else:
        values = {
            "setup_s": session.get_spark_s + session.warmup_s,
            "pass_s": statistics.median([p.wall_s for p in timed]),
            "query_p50_s": statistics.median(lat),
            "query_tail_s": harness.percentile(lat, tail_pct),
        }
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in spec}
    print(json.dumps({"details": details}))
    print(
        json.dumps(
            {
                "correct": not failures,
                "attempted": attempted,
                "failed": len(failures),
                "metrics": metrics,
            }
        )
    )
    return 0


def _quartiles(xs: list[float]) -> list[float]:
    return statistics.quantiles(xs, n=4) if len(xs) > 1 else xs * 3


def _trace_metrics(wl, seed, traced, timed, session, cores, layer_map):
    """Per-layer metrics: each pass's per-op records summed, then the
    median over traced passes; the per-op records are written to disk."""
    import harness

    per_pass = [harness.pass_layers(p, cores) for p in traced]
    values = {k: statistics.median([pp[k] for pp in per_pass]) for k in per_pass[0]}
    values["session.get_spark_s"] = session.get_spark_s
    values["session.warmup_s"] = session.warmup_s
    traced_s = statistics.median([p.wall_s for p in traced])
    values["trace.overhead"] = traced_s / statistics.median([p.wall_s for p in timed])
    # build + plan + exec + write self times, as a share of the traced pass
    layer_self_s = [pp["build.s"] + pp["plan.s"] + pp["exec.s"] + pp["write.s"] for pp in per_pass]
    values["layer_self_share"] = statistics.median(layer_self_s) / traced_s
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{wl.name}-{seed}.json")
    with open(path, "w") as fh:
        json.dump(
            {
                "workload": wl.name,
                "seed": seed,
                "layer_map": layer_map,
                "traced_pass_s": [p.wall_s for p in traced],
                "untraced_pass_s": [p.wall_s for p in timed],
                "layer_self_s": layer_self_s,
                "passes": [p.records for p in traced],
            },
            fh,
            indent=1,
        )
    return values, path


if __name__ == "__main__":
    sys.exit(main())
