"""PageRank invariants + NumPy dense power-iteration oracle at sf0.001."""

from __future__ import annotations

import numpy as np

from retail_sales_project_bigdata_spark.operators.graph import (
    DAMPING,
    N_ITERATIONS,
    copurchase_edges,
    pagerank_copurchase,
)
from tests.conftest import SF_SMALL


def _numpy_pagerank(edges: list[tuple[int, int]]) -> dict[int, float]:
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    deg = np.zeros(n)
    for s, _ in edges:
        deg[idx[s]] += 1
    rank = np.ones(n)
    for _ in range(N_ITERATIONS):
        incoming = np.zeros(n)
        for s, d in edges:
            incoming[idx[d]] += rank[idx[s]] / deg[idx[s]]
        rank = (1.0 - DAMPING) + DAMPING * incoming
    return {node: rank[idx[node]] for node in nodes}


def test_pagerank_matches_dense_oracle_and_conserves_mass(spark):
    edges = [
        (int(r.src), int(r.dst))
        for r in copurchase_edges(spark, SF_SMALL).collect()
    ]
    expected = _numpy_pagerank(edges)

    top = pagerank_copurchase(spark, SF_SMALL).collect()
    assert len(top) == min(50, len(expected))
    assert all(r.rank > 0 for r in top)
    for r in top:
        assert abs(r.rank - expected[int(r.node)]) < 1e-9

    # the returned top-k really is the global top-k (same tie-break)
    ordered = sorted(expected.items(), key=lambda kv: (-kv[1], kv[0]))
    assert [int(r.node) for r in top] == [n for n, _ in ordered[: len(top)]]

    # mass conservation over the full ranks: sum == N (no dangling nodes)
    full_sum = sum(expected.values())
    assert abs(full_sum - len(expected)) < 1e-6 * len(expected)


def test_star_contraction_on_synthetic_graphs(spark):
    """Chains, cycles, isolated pairs — star contraction must label every
    node with its component minimum in O(log d) rounds."""
    from retail_sales_project_bigdata_spark.operators.graph import (
        connected_components_star,
    )

    # chain 0-1-...-9, cycle 20-21-22-20, pair (30, 31)
    edges = (
        [(i, i + 1) for i in range(9)]
        + [(20, 21), (21, 22), (22, 20)]
        + [(30, 31)]
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.component
        for r in connected_components_star(df).collect()
    }
    want = {i: 0 for i in range(10)}
    want.update({20: 20, 21: 20, 22: 20, 30: 30, 31: 30})
    assert got == want


def test_star_contraction_matches_label_propagation(spark):
    """On the real LSH near-dup pair graph the star labels must equal the
    plain min-label-propagation labels (same components, same minima)."""
    from pyspark.sql import functions as F

    from retail_sales_project_bigdata_spark.operators.datasetops import (
        dedup_groups,
    )
    from retail_sales_project_bigdata_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from retail_sales_project_bigdata_spark.operators.graph import (
        connected_components_star,
    )

    edges = minhash_lsh_pairs(spark, SF_SMALL).select(
        F.col("d1").alias("src"), F.col("d2").alias("dst")
    )
    star = {
        r.node: r.component
        for r in connected_components_star(edges).collect()
    }
    prop = {
        r.doc_id: r.canonical_id
        for r in dedup_groups(spark, SF_SMALL).collect()
    }
    assert star == prop


def test_triangle_counts_oracle_and_bruteforce(spark, duck):
    """Oracle parity at sf0.001 plus an orientation-independent check:
    the degree-oriented enumeration must count exactly the triangles a
    brute-force id-ordered enumeration finds."""
    import itertools

    from tests.conftest import assert_oracle_match
    from retail_sales_project_bigdata_spark.operators.graph import (
        TRIANGLE_COUNTS_SQL,
        triangle_counts,
    )
    from retail_sales_project_bigdata_spark.sources import read_table

    df = triangle_counts(spark, SF_SMALL)
    assert_oracle_match(df, duck, TRIANGLE_COUNTS_SQL)

    # brute force: adjacency sets by id, count triangles per node
    li = (
        read_table(spark, SF_SMALL, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    orders = {}
    for r in li:
        orders.setdefault(r.l_orderkey, set()).add(r.l_partkey)
    adj = {}
    for parts in orders.values():
        for a, b in itertools.combinations(sorted(parts), 2):
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    per_node = {}
    for x in adj:
        for y in (n for n in adj[x] if n > x):
            for z in (n for n in adj[y] if n > y and n in adj[x]):
                for m in (x, y, z):
                    per_node[m] = per_node.get(m, 0) + 1
    expected = sorted(
        per_node.items(), key=lambda kv: (-kv[1], kv[0])
    )[:20]
    got = [(r.l_partkey, r.n_triangles) for r in df.collect()]
    assert got == expected


def test_clustering_coefficients_oracle_and_bruteforce(spark, duck):
    import itertools

    from tests.conftest import assert_oracle_match
    from retail_sales_project_bigdata_spark.operators.graph import (
        CLUSTERING_COEFFICIENTS_SQL,
        CLUSTERING_MIN_DEGREE,
        clustering_coefficients,
    )
    from retail_sales_project_bigdata_spark.sources import read_table

    df = clustering_coefficients(spark, SF_SMALL)
    assert_oracle_match(df, duck, CLUSTERING_COEFFICIENTS_SQL)

    li = (
        read_table(spark, SF_SMALL, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    orders = {}
    for r in li:
        orders.setdefault(r.l_orderkey, set()).add(r.l_partkey)
    adj = {}
    for parts in orders.values():
        for a, b in itertools.combinations(sorted(parts), 2):
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    tri = {}
    for x in adj:
        for y in (n for n in adj[x] if n > x):
            for z in (n for n in adj[y] if n > y and n in adj[x]):
                for m in (x, y, z):
                    tri[m] = tri.get(m, 0) + 1
    expected = sorted(
        (
            (
                node,
                len(nbrs),
                tri.get(node, 0),
                (tri.get(node, 0) * 2) / (len(nbrs) * (len(nbrs) - 1)),
            )
            for node, nbrs in adj.items()
            if len(nbrs) >= CLUSTERING_MIN_DEGREE
        ),
        key=lambda t: (-t[3], t[0]),
    )[:20]
    got = [
        (r.l_partkey, r.degree, r.n_triangles, r.clustering_coef)
        for r in df.collect()
    ]
    assert got == expected
    for _, dg, nt, coef in got:
        assert 0.0 <= coef <= 1.0 and nt <= dg * (dg - 1) // 2


def test_triangle_chunked_adjacency_matches_unchunked(spark, monkeypatch):
    """Hot-vertex insurance: forcing every adjacency list to hash-split
    into tiny chunks (CHUNK=2) must yield exactly the same per-node
    triangle counts as effectively-unchunked enumeration — chunks
    partition each neighbor set, so the union of per-chunk intersections
    is the full intersection and every triangle closes exactly once."""
    from retail_sales_project_bigdata_spark.operators import graph as g
    from tests.conftest import SF_SMALL

    def counts():
        _, per_node, _ = g.triangle_pipeline_frames(spark, SF_SMALL)
        return {
            r["l_partkey"]: r["n_triangles"] for r in per_node.collect()
        }

    monkeypatch.setattr(g, "TRIANGLE_ADJ_CHUNK", 1_000_000_000)
    base = counts()
    monkeypatch.setattr(g, "TRIANGLE_ADJ_CHUNK", 2)
    chunked = counts()
    assert base == chunked
    assert sum(base.values()) > 0  # the graph actually has triangles


def test_triangle_counts_sampled_exact_at_divisor_one(spark):
    """Doulion twin, D=1 (p=1): no edge is dropped and the scale factor
    is 1, so the estimate IS the exact count — row-for-row equal to
    triangle_counts including the top-N ordering."""
    from retail_sales_project_bigdata_spark.operators import graph as g
    from tests.conftest import SF_SMALL

    exact = [
        (r["l_partkey"], r["n_triangles"])
        for r in g.triangle_counts(spark, SF_SMALL).collect()
    ]
    sampled = [
        (r["l_partkey"], r["est_triangles"])
        for r in g.triangle_counts_sampled(spark, SF_SMALL, divisor=1).collect()
    ]
    assert sampled == exact


def test_triangle_counts_sampled_error_envelope(spark):
    """Unbiased-estimator envelope: at D=2 (each triangle survives with
    p^3 = 1/8) the GLOBAL estimate must land within ±40% of the exact
    global count — loose vs the analytic ~sqrt((8-1)/T) relative SD so
    the deterministic hash draw has slack, tight enough to catch a wrong
    scale factor (off by 8x) or a biased sample."""
    from pyspark.sql import functions as F

    from retail_sales_project_bigdata_spark.operators import graph as g
    from tests.conftest import SF_SMALL

    _, per_node, _ = g.triangle_pipeline_frames(spark, SF_SMALL)
    exact_global = (
        per_node.agg(F.sum("n_triangles")).first()[0] or 0
    ) // 3  # each triangle counted at its 3 corners
    assert exact_global > 0

    d = 2
    edges = g._copurchase_int_edges(spark, SF_SMALL)
    kept = edges.filter(g._edge_keep_hash() % F.lit(d) == 0)
    _, pn_sampled, _ = g._triangle_frames_from(kept)
    est_global = (
        (pn_sampled.agg(F.sum("n_triangles")).first()[0] or 0) * d**3
    ) // 3
    assert abs(est_global - exact_global) <= 0.4 * exact_global, (
        est_global,
        exact_global,
    )


def test_copurchase_edges_plan_within_budget(spark):
    """ADVICE r9 item 2: pagerank's localCheckpoint truncates its audited
    plan to 'Scan ExistingRDD' roots, so the registry-level plan budget
    no longer sees the edge-BUILD subtree (pair explode + distinct +
    symmetrizing union).  Audit it directly, pre-checkpoint: a shuffle /
    cartesian / python-eval regression in edge construction must fail
    the suite, not surface at 100 TB."""
    from retail_sales_project_bigdata_spark.operators.graph import (
        copurchase_edges,
    )
    from retail_sales_project_bigdata_spark.plans import plan_facts
    from tests.conftest import SF_SMALL

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        s = plan_facts(copurchase_edges(spark, SF_SMALL))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    # measured r10: one per-order shuffle for the pair explode, one for
    # the distinct, one re-used across the union's mirrored branch
    assert s["shuffle_exchanges"] <= 3, s
    assert s["python_eval"] == 0, s
    assert s["cartesian"] == 0, s
