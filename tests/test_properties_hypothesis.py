"""Property-based tests (hypothesis) for the scalar function surface —
randomized inputs against Python-reference semantics."""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from retail_sales_project_bigdata_spark.functions import (
    day_of_week,
    safe_div,
    stable_sum,
    week_no,
)
from retail_sales_project_bigdata_spark.registry import query_scope

_slow = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(days=st.lists(st.integers(min_value=1, max_value=5000), min_size=1, max_size=20))
@_slow
def test_week_no_matches_python_ceil(spark, days):
    df = spark.createDataFrame([(d,) for d in days], ["day"])
    rows = df.select("day", week_no("day").alias("w")).collect()
    for r in rows:
        assert r.w == math.ceil(r.day / 7)


@given(days=st.lists(st.integers(min_value=1, max_value=5000), min_size=1, max_size=20))
@_slow
def test_day_of_week_range_and_period(spark, days):
    df = spark.createDataFrame([(d,) for d in days], ["day"])
    for r in df.select("day", day_of_week("day").alias("w")).collect():
        assert 1 <= r.w <= 7
        assert r.w == ((r.day - 1) % 7) + 1


@given(
    pairs=st.lists(
        st.tuples(
            st.floats(-1e6, 1e6, allow_nan=False),
            st.floats(-1e6, 1e6, allow_nan=False),
        ),
        min_size=1,
        max_size=15,
    )
)
@_slow
def test_safe_div_matches_python_division(spark, pairs):
    """Zero denominators give the default; everything else is plain IEEE
    division (bit-equal to Python's) — including overflow to inf for
    denormal denominators, which mirrors the reference's zero-only guard
    (FullPreprocessingPipeline.java:85-100)."""
    df = spark.createDataFrame(pairs, ["n", "d"])
    rows = df.select(
        "n", "d", safe_div(F.col("n"), F.col("d")).alias("q")
    ).collect()
    for r in rows:
        assert r.q is not None
        if r.d == 0:
            assert r.q == 0.0
        else:
            expected = r.n / r.d
            assert r.q == expected or (
                math.isnan(expected) and math.isnan(r.q)
            )


@given(
    vals=st.lists(
        st.integers(min_value=-10**6, max_value=10**6).map(lambda c: c / 100.0),
        min_size=1,
        max_size=30,
    )
)
@_slow
def test_stable_sum_equals_exact_decimal_sum(spark, vals):
    """For 2-decimal-grid inputs, stable_sum must recover the exact
    decimal total regardless of partitioning (the invariant the whole
    oracle gate rests on)."""
    from decimal import Decimal

    exact = float(sum(Decimal(f"{v:.2f}") for v in vals))
    for parts in (1, 4):
        df = spark.createDataFrame([(v,) for v in vals], ["x"]).repartition(parts)
        got = df.agg(stable_sum("x", 2).alias("s")).first().s
        assert got == round(exact, 2)


# ---------------------------------------------------------------------------
# Generic as-of join vs a Python reference, under adversarial null patterns
# (null right timestamps must be excluded; a null in ONE right column must
# not splice values from different right rows — the match is atomic).

_asof_right_rows = st.lists(
    st.tuples(
        st.integers(0, 2),  # key
        st.one_of(st.none(), st.integers(0, 50)),  # ts (nullable)
        st.one_of(st.none(), st.integers(0, 99)),  # payload a (nullable)
        st.integers(100, 199),  # payload b
    ),
    min_size=0,
    max_size=12,
)
_asof_left_rows = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 50)),
    min_size=1,
    max_size=8,
)


@given(left_rows=_asof_left_rows, right_rows=_asof_right_rows)
@_slow
def test_asof_join_matches_reference_with_nulls(spark, left_rows, right_rows):
    from retail_sales_project_bigdata_spark.operators.asof import asof_join

    left_rows = [(i, k, t) for i, (k, t) in enumerate(left_rows)]
    right_rows = [
        (k, t, a, b, i) for i, (k, t, a, b) in enumerate(right_rows)
    ]
    left = spark.createDataFrame(left_rows, "lid long, k long, ts long")
    right = spark.createDataFrame(
        right_rows, "k long, rts long, pa long, pb long, rid long"
    )
    got = {
        r.lid: (r.pa, r.pb, r.rid)
        for r in asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="rts",
            right_cols=["pa", "pb", "rid"],
        ).collect()
    }
    for lid, k, ts in left_rows:
        # reference: the matching right ROW with max (rts, then insertion
        # order via rid as the union's stable tie-break is unspecified for
        # exact rts ties — only assert when the max-ts right row is unique)
        cands = [r for r in right_rows if r[0] == k and r[1] is not None and r[1] <= ts]
        if not cands:
            assert got[lid] == (None, None, None), lid
            continue
        max_ts = max(r[1] for r in cands)
        at_max = [r for r in cands if r[1] == max_ts]
        if len(at_max) > 1:
            assert got[lid][2] in {r[4] for r in at_max}, lid
            continue
        expect = at_max[0]
        assert got[lid] == (expect[2], expect[3], expect[4]), lid


_edges_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=0, max_value=30),
    ),
    min_size=1,
    max_size=40,
)


@given(edges=_edges_strategy)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_star_contraction_matches_union_find(spark, edges):
    """connected_components_star on random graphs must equal a Python
    union-find reference (component = minimum member)."""
    from retail_sales_project_bigdata_spark.operators.graph import (
        connected_components_star,
    )

    real = [(a, b) for a, b in edges if a != b]
    if not real:
        return

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in real:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}

    df = spark.createDataFrame(real, "src long, dst long")
    got = {
        r.node: r.component
        for r in connected_components_star(df).collect()
    }
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", None]),
            st.integers(min_value=-5, max_value=5),
        ),
        min_size=1,
        max_size=40,
    ),
    parts=st.integers(min_value=1, max_value=6),
)
@_slow
def test_grouped_row_number_matches_window(spark, rows, parts):
    """Two-phase distributed ranking == Spark's own per-group window
    row_number, on random data with NULL groups, duplicate order values
    (unique-id tiebreak), and arbitrary partition counts."""
    from pyspark.sql.window import Window

    from retail_sales_project_bigdata_spark.operators.ranking import (
        grouped_row_number,
    )

    df = spark.createDataFrame(
        [(g, v, i) for i, (g, v) in enumerate(rows)], "g string, v long, i long"
    )
    got = {
        (r.g, r.i): r.rn
        for r in grouped_row_number(
            df, ["g"], [F.asc("v"), F.asc("i")], "rn", num_partitions=parts
        ).collect()
    }
    w = Window.partitionBy("g").orderBy(F.asc("v"), F.asc("i"))
    want = {
        (r.g, r.i): r.rn
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert got == want


@given(
    n=st.integers(min_value=1, max_value=60),
    tiles=st.integers(min_value=1, max_value=10),
)
@_slow
def test_ntile_from_rn_matches_spark_ntile(spark, n, tiles):
    """Closed-form NTILE arithmetic == Spark's NTILE for every (n, tiles)."""
    from pyspark.sql.window import Window

    from retail_sales_project_bigdata_spark.operators.ranking import (
        ntile_from_rn,
        with_total_count,
    )

    df = with_total_count(spark.range(n))
    got = {
        r.id: r.t
        for r in df.withColumn(
            "t",
            ntile_from_rn(F.col("id") + 1, F.col("_n_total"), tiles),
        ).collect()
    }
    w = Window.orderBy("id")
    want = {
        r.id: r.t
        for r in spark.range(n)
        .withColumn("t", F.ntile(tiles).over(w))
        .collect()
    }
    assert got == want


@given(
    counts=st.lists(
        st.integers(min_value=1, max_value=10_000), min_size=1, max_size=6
    )
)
@_slow
def test_temperature_quota_invariants(spark, counts):
    """The exact-product quota formula: smallest group kept whole, no
    upsampling, proportions flattened toward sqrt — checked on synthetic
    per-source counts without running the full corpus query."""
    df = spark.createDataFrame(
        [(f"s{i}", n) for i, n in enumerate(counts)], "source string, n_docs long"
    )
    t = df.agg(F.min("n_docs").alias("n_min"))
    quotas = {
        r["source"]: r["quota"]
        for r in df.crossJoin(F.broadcast(t))
        .select(
            "source",
            F.least(
                F.col("n_docs"),
                F.floor(
                    F.sqrt((F.col("n_docs") * F.col("n_min")).cast("double"))
                ).cast("long"),
            ).alias("quota"),
        )
        .collect()
    }
    n_min = min(counts)
    for i, n in enumerate(counts):
        q = quotas[f"s{i}"]
        assert 1 <= q <= n  # never upsample, never empty a source
        assert q == min(n, math.floor(math.sqrt(n * n_min)))
        if n == n_min:
            assert q == n  # binding source kept whole


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 1_000_000),
            st.one_of(st.none(), st.floats(-1e6, 1e6, allow_nan=False)),
        ),
        min_size=1,
        max_size=15,
    ),
    threshold=st.floats(-1e5, 1e5, allow_nan=False),
)
@_slow
def test_expectations_match_python_reference(spark, rows, threshold):
    """apply_expectations/report against plain-Python rule evaluation:
    NULL is a violation, violations list rule order, report counts add
    up."""
    from retail_sales_project_bigdata_spark.operators.expectations import (
        apply_expectations,
        expectations_report,
        split_quarantine,
    )

    df = spark.createDataFrame(rows, "id long, v double")
    rules = [
        ("v_present", F.col("v").isNotNull()),
        ("v_above", F.col("v") > threshold),
    ]

    def ref_violations(v):
        out = []
        if v is None:
            out.append("v_present")
        if not (v is not None and v > threshold):
            out.append("v_above")
        return ",".join(out)

    # duplicate ids possible: compare multisets of (id, violations)
    got_pairs = sorted(
        (r["id"], r["violations"]) for r in apply_expectations(df, rules).collect()
    )
    exp_pairs = sorted((i, ref_violations(v)) for i, v in rows)
    assert got_pairs == exp_pairs

    rep = {
        r["rule"]: r["n_violations"]
        for r in expectations_report(df, rules, "synthetic").collect()
    }
    assert rep["v_present"] == sum(1 for _, v in rows if v is None)
    assert rep["v_above"] == sum(
        1 for _, v in rows if not (v is not None and v > threshold)
    )

    good, bad = split_quarantine(apply_expectations(df, rules))
    assert good.count() + bad.count() == len(rows)


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]),
            min_size=1,
            max_size=8,
        ),
        min_size=4,
        max_size=16,
    )
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_prefix_join_lossless_on_random_corpora(spark, docs):
    """Randomized losslessness check for the AllPairs/PPJoin candidate
    generation: tiny vocab + short docs maximize shared shingles and
    whole-set prefixes — the regime where a wrong prefix length,
    size-ratio, or positional bound would silently DROP true pairs.
    Reference is an independent pure-Python all-pairs Jaccard."""
    import shutil
    import tempfile

    from retail_sales_project_bigdata_spark.functions import pround_py
    from retail_sales_project_bigdata_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        SHINGLE_K,
        ngram_jaccard_pairs_prefix,
    )

    shingle_sets = {}
    for i, toks in enumerate(docs):
        if len(toks) >= SHINGLE_K:
            shingle_sets[i] = {
                " ".join(toks[j : j + SHINGLE_K])
                for j in range(len(toks) - SHINGLE_K + 1)
            }
    expected = {}
    ids = sorted(shingle_sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = shingle_sets[ids[x]], shingle_sets[ids[y]]
            inter = len(a & b)
            j = inter / (len(a) + len(b) - inter)
            if j >= JACCARD_THRESHOLD:
                expected[(ids[x], ids[y])] = (inter, pround_py(j, 6))

    sf_dir = tempfile.mkdtemp(prefix="prefix_prop_")
    try:
        spark.createDataFrame(
            [(i, " ".join(toks)) for i, toks in enumerate(docs)],
            "doc_id long, text string",
        ).write.parquet(f"{sf_dir}/documents.parquet")
        with query_scope(spark):  # per-example shingle cache
            got = {
                (r.d1, r.d2): (r.n_common, r.jaccard)
                for r in ngram_jaccard_pairs_prefix(spark, sf_dir).collect()
            }
    finally:
        shutil.rmtree(sf_dir, ignore_errors=True)
    assert got == expected


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]),
            min_size=1,
            max_size=8,
        ),
        min_size=6,
        max_size=16,
    )
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_incremental_near_dup_matches_reference_on_random_corpora(
    spark, docs
):
    """Randomized batch-vs-corpus classification check: the incremental
    near-dup operator must report, for every shingle-able batch doc
    (doc_id % 5 == 0), exactly the reference's corpus matches — count,
    best match under (jaccard desc, doc_id asc), and rounded score —
    and 'novel' sentinels otherwise."""
    import shutil
    import tempfile

    from retail_sales_project_bigdata_spark.functions import pround_py
    from retail_sales_project_bigdata_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        SHINGLE_K,
        incremental_near_dup_new_docs,
    )

    shingle_sets = {}
    for i, toks in enumerate(docs):
        if len(toks) >= SHINGLE_K:
            shingle_sets[i] = {
                " ".join(toks[j : j + SHINGLE_K])
                for j in range(len(toks) - SHINGLE_K + 1)
            }
    expected = {}
    for d_new in (i for i in shingle_sets if i % 5 == 0):
        matches = []
        for d_c in (i for i in shingle_sets if i % 5 != 0):
            a, b = shingle_sets[d_new], shingle_sets[d_c]
            inter = len(a & b)
            j = inter / (len(a) + len(b) - inter)
            if j >= JACCARD_THRESHOLD:
                matches.append((j, d_c))
        if matches:
            best_j, best_id = max(matches, key=lambda m: (m[0], -m[1]))
            expected[d_new] = (
                "near_dup_of_corpus",
                len(matches),
                best_id,
                pround_py(best_j, 6),
            )
        else:
            expected[d_new] = ("novel", 0, -1, 0.0)

    sf_dir = tempfile.mkdtemp(prefix="incr_prop_")
    try:
        spark.createDataFrame(
            [(i, " ".join(toks)) for i, toks in enumerate(docs)],
            "doc_id long, text string",
        ).write.parquet(f"{sf_dir}/documents.parquet")
        with query_scope(spark):
            got = {
                r.doc_id: (
                    r.status,
                    r.n_corpus_matches,
                    r.best_match_doc_id,
                    r.best_jaccard,
                )
                for r in incremental_near_dup_new_docs(spark, sf_dir).collect()
            }
    finally:
        shutil.rmtree(sf_dir, ignore_errors=True)
    assert got == expected
