"""Local replica of the driver's correctness gate.

Runs each ``queries()[name]`` on Spark and the matching ``oracle_sql()``
on DuckDB over the same parquet tables, then compares row count, column
names, and order-insensitive values.  Use while iterating so the per-round
CORRECTNESS gate holds no surprises.

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from retail_sales_project_bigdata_spark.schemas import TESTDATA_SCHEMAS  # noqa: E402

TABLES = list(TESTDATA_SCHEMAS)


def _fast_equal(s_pdf, d_pdf) -> bool | None:
    """Vectorized multiset equality: serialize each row to one string —
    float64 columns via their RAW BITS (so the check is exactly as strict
    as the repr() path: ±0.0 differ, every ulp differs), everything else
    via str() — then compare the sorted serializations.  Returns None
    (undecidable → use the slow path) when a column holds lists/arrays
    or engine dtypes disagree in a way str() may mask."""
    import numpy as np

    if len(s_pdf) == 0:
        # caller verified equal row counts, so both are empty — decided.
        # (Also dodges numpy's empty-array char ops, which come back
        # float64 and poison the string pipeline below.)
        return True

    def rows(pdf):
        cols = []
        for c in pdf.columns:
            col = pdf[c]
            if col.dtype == "float64":
                cols.append(
                    np.char.mod(
                        "%d", col.to_numpy(np.float64).view(np.int64)
                    )
                )
            elif col.dtype == "object":
                vals = col.to_numpy()
                if len(vals) and isinstance(
                    vals[0], (list, tuple, np.ndarray, bytes)
                ):
                    return None
                if any(isinstance(v, float) for v in vals[:50]):
                    return None  # mixed/NULL-float object column
                cols.append(np.array([str(v) for v in vals]))
            else:
                cols.append(col.to_numpy().astype(str))
        # Length-prefix every field ("<len>:<value>") before joining:
        # with a bare separator, a string VALUE containing the separator
        # could make two different rows serialize identically — a false
        # PASS that would short-circuit the authoritative slow path.
        # Prefixing makes the row serialization injective regardless of
        # value content.
        def prefixed(c):
            c = np.asarray(c, dtype=str)
            return np.char.add(
                np.char.add(np.char.mod("%d", np.char.str_len(c)), ":"), c
            )

        out = prefixed(cols[0])
        for c in cols[1:]:
            out = np.char.add(out, prefixed(c))
        return np.sort(out)

    a, b = rows(s_pdf), rows(d_pdf)
    if a is None or b is None:
        return None
    return bool(np.array_equal(a, b))


def compare(spark_df, duck_df, name: str) -> list[str]:
    problems: list[str] = []
    s_pdf = spark_df if not hasattr(spark_df, "toPandas") else spark_df.toPandas()
    d_pdf = duck_df
    if len(s_pdf) != len(d_pdf):
        problems.append(f"rowcount spark={len(s_pdf)} duck={len(d_pdf)}")
    s_cols, d_cols = sorted(s_pdf.columns), sorted(d_pdf.columns)
    if s_cols != d_cols:
        problems.append(f"columns spark={s_cols} duck={d_cols}")
        return problems
    s_pdf = s_pdf[s_cols]
    d_pdf = d_pdf[s_cols]
    if len(s_pdf) == len(d_pdf):
        fast = _fast_equal(s_pdf, d_pdf)
        if fast is True:
            return problems
        # fast is False or None: fall through to the exact slow path for
        # the authoritative verdict + diagnostics
    s_rows = sorted(map(_norm_row, s_pdf.itertuples(index=False)))
    d_rows = sorted(map(_norm_row, d_pdf.itertuples(index=False)))
    n_bad = sum(1 for a, b in zip(s_rows, d_rows) if a != b)
    if n_bad:
        for a, b in zip(s_rows, d_rows):
            if a != b:
                problems.append(f"first value mismatch:\n  spark={a}\n  duck ={b}")
                break
        problems.append(f"{n_bad}/{len(s_rows)} rows differ")
    return problems


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr() is the shortest round-trip representation — EXACT double
        # comparison (two doubles differing in any bit normalize
        # differently).  Deliberately strict: the driver's value-hash may
        # be exact, so the local gate must be at least as strict.
        return repr(v)
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        t = v.tolist()
        if isinstance(t, list):
            return tuple(_norm(x) for x in t)
        return _norm(t)
    return str(v)


def _norm_row(row):
    return tuple(_norm(v) for v in row)


def main() -> int:
    import duckdb

    import __spark_entry__ as entrymod
    from retail_sales_project_bigdata_spark.profiling import warmup
    from retail_sales_project_bigdata_spark.registry import query_scope
    from retail_sales_project_bigdata_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # Oracle sweeps run tiny SFs where 32-wide shuffles are pure task-
    # scheduling overhead (measured ~1.8x on a mid-weight subset at
    # sf0.01).  Narrower shuffle width changes no values and no logical
    # plans — the plan-budget suite audits plans under the standard conf.
    spark = get_spark("oracle_check", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    import time

    # bench.py's warm-up, so the first query checked does not absorb
    # session startup in its number.
    warmup(spark, sf_dir)

    from concurrent.futures import ThreadPoolExecutor

    duck_pool = ThreadPoolExecutor(max_workers=1)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failed = []
    timings: dict[str, float] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        if name not in oracles:
            with query_scope(spark):
                n = fn(spark, sf_dir).count()
            timings[name] = round(time.perf_counter() - t0, 3)
            print(f"{name:<28} ROWS-ONLY rows={n}  [{timings[name]}s]")
            continue
        try:
            # DuckDB runs on a worker thread WHILE Spark executes — the
            # oracle side is pure read-only SQL over the same parquet, so
            # the overlap halves the serial tail (all duck work stays on
            # ONE thread; the connection is never used concurrently).
            fut = duck_pool.submit(
                lambda sql=oracles[name]: con.execute(sql).df()
            )
            with query_scope(spark):
                s_pdf = fn(spark, sf_dir).toPandas()
            ddf = fut.result()
            problems = compare(s_pdf, ddf, name)
        except Exception as e:  # noqa: BLE001
            problems = [f"EXCEPTION {type(e).__name__}: {e}"]
        timings[name] = round(time.perf_counter() - t0, 3)
        if problems:
            failed.append(name)
            print(f"{name:<28} FAIL  [{timings[name]}s]")
            for p in problems:
                print(f"    {p}")
        else:
            print(f"{name:<28} OK  [{timings[name]}s]")
    slowest = sorted(timings.items(), key=lambda kv: -kv[1])[:15]
    total = round(sum(timings.values()), 1)
    print(f"\ngate total {total}s over {len(timings)} queries; slowest:")
    for n, s in slowest:
        print(f"    {n:<36} {s}s")
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
