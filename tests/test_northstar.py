"""Property tests for the approximate north-star operators (LSH, SimHash)
— the rows-only queries whose exactness can't be oracle-checked by design.
Their exact counterparts (ngram_jaccard_pairs, ann_bruteforce_topk,
minhash_* with md5 hashing) ARE oracle-checked in test_oracle_parity."""

from __future__ import annotations

from pyspark.sql import functions as F

from retail_sales_project_bigdata_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_buckets,
)
from retail_sales_project_bigdata_spark.operators.similarity import (
    TOP_K,
    ann_bruteforce_topk,
    ann_lsh_topk,
    lsh_signatures,
)
from retail_sales_project_bigdata_spark.registry import query_scope
from tests.conftest import SF_SMALL


def test_minhash_lsh_finds_high_jaccard_pairs(spark):
    """Every LSH-surfaced pair is a true near-dup (precision = 1.0 by
    construction — candidates are verified), and recall on jaccard=1.0
    pairs is perfect (identical shingle sets share every band)."""
    lsh = {(r.d1, r.d2) for r in minhash_lsh_pairs(spark, SF_SMALL).collect()}
    exact = {
        (r.d1, r.d2, r.jaccard) for r in ngram_jaccard_pairs(spark, SF_SMALL).collect()
    }
    exact_pairs = {(d1, d2) for d1, d2, _ in exact}
    assert lsh <= exact_pairs  # verified candidates only
    perfect = {(d1, d2) for d1, d2, j in exact if j == 1.0}
    assert perfect <= lsh  # identical sets always collide


def test_prefix_filter_join_equals_posting_list_join(spark):
    """ngram_jaccard_pairs_prefix is EXACT: the prefix-filtered
    candidate generation (AllPairs/PPJoin) must reproduce the full
    posting-list join's result set bit-for-bit — same pairs, same
    intersection counts, same rounded Jaccard."""
    from retail_sales_project_bigdata_spark.operators.dedup import (
        ngram_jaccard_pairs_prefix,
    )

    exact = {
        (r.d1, r.d2, r.n_common, r.jaccard)
        for r in ngram_jaccard_pairs(spark, SF_SMALL).collect()
    }
    pref = {
        (r.d1, r.d2, r.n_common, r.jaccard)
        for r in ngram_jaccard_pairs_prefix(spark, SF_SMALL).collect()
    }
    assert exact == pref
    assert pref, "degenerate corpus: no near-dup pairs to compare"


def test_prefix_filter_join_adversarial_corpus(spark, tmp_path):
    """Crafted worst case for prefix filtering: a 30-doc clique of
    2-shingle docs all sharing one frequent shingle (every prefix spans
    the whole set, pairwise J = 1/3 — the quadratic-candidate regime the
    positional filter prunes inside the join), plus one exact-duplicate
    pair (J = 1.0) and one boundary pair (J = 0.5, which must NOT be
    lost to the epsilon'd bounds).  Prefix join must equal the
    posting-list join exactly and find precisely the two true pairs."""
    from retail_sales_project_bigdata_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    rows = [(i, f"x y z u{i}") for i in range(30)]  # clique, J=1/3
    rows += [(100, "p q r s t"), (101, "p q r s t")]  # J = 1.0
    rows += [(200, "a b c d e"), (201, "a b c d f")]  # J = 2/4 = 0.5
    sf_dir = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{sf_dir}/documents.parquet"
    )
    with query_scope(spark):  # drops the crafted corpus's shingle cache
        exact = {
            (r.d1, r.d2, r.n_common, r.jaccard)
            for r in ngram_jaccard_pairs(spark, sf_dir).collect()
        }
    with query_scope(spark):
        pref = {
            (r.d1, r.d2, r.n_common, r.jaccard)
            for r in ngram_jaccard_pairs_prefix(spark, sf_dir).collect()
        }
    assert exact == pref
    assert {(d1, d2) for d1, d2, _, _ in pref} == {(100, 101), (200, 201)}


def test_incremental_near_dup_classifies_batch_against_corpus_only(
    spark, tmp_path
):
    """Batch doc 5 is a verbatim copy of corpus doc 1 (best_jaccard 1.0);
    batch docs 10 and 15 are near-copies of each other but of nothing in
    the corpus — in-batch similarity must NOT be reported (that is the
    exact-hash twin's job), so both come back novel; batch doc 20 shares
    nothing and is novel."""
    from retail_sales_project_bigdata_spark.operators.dedup import (
        incremental_near_dup_new_docs,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),  # corpus
        (2, "completely unrelated corpus text about spark engines"),
        (5, "the quick brown fox jumps over the lazy dog"),  # batch copy
        (10, "alpha beta gamma delta epsilon zeta"),  # batch twins
        (15, "alpha beta gamma delta epsilon eta"),
        (20, "nothing here resembles anything else at all"),
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{sf_dir}/documents.parquet"
    )
    out = {
        r.doc_id: r
        for r in incremental_near_dup_new_docs(spark, sf_dir).collect()
    }
    assert set(out) == {5, 10, 15, 20}
    assert out[5].status == "near_dup_of_corpus"
    assert out[5].best_match_doc_id == 1
    assert out[5].best_jaccard == 1.0
    for novel_id in (10, 15, 20):
        assert out[novel_id].status == "novel"
        assert out[novel_id].n_corpus_matches == 0
        assert out[novel_id].best_match_doc_id == -1


def test_simhash_identical_docs_collide(spark):
    """Docs with identical token multisets must get identical simhash."""
    sig = simhash_buckets(spark, SF_SMALL)
    assert sig.count() == sig.select("doc_id").distinct().count()
    # signature is a 32-bit value
    row = sig.agg(F.min("simhash"), F.max("simhash")).first()
    assert 0 <= row[0] and row[1] < 2**32


def test_ann_lsh_subset_of_bucket_and_scores_match_bruteforce(spark):
    """LSH top-k scores must agree with brute-force scores for the same
    (query, neighbor) pair — the approximation drops candidates, never
    rescores them."""
    bf = {
        (r.q_id, r.neighbor_id): r.cosine
        for r in ann_bruteforce_topk(spark, SF_SMALL).collect()
    }
    lsh_rows = ann_lsh_topk(spark, SF_SMALL).collect()
    assert lsh_rows, "LSH returned nothing — buckets degenerate"
    for r in lsh_rows:
        if (r.q_id, r.neighbor_id) in bf:
            assert abs(bf[(r.q_id, r.neighbor_id)] - r.cosine) < 1e-9
    per_q = {}
    for r in lsh_rows:
        per_q.setdefault(r.q_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())
    assert all(len(v) <= TOP_K for v in per_q.values())


def test_lsh_signature_buckets_partition_corpus(spark):
    sigs = lsh_signatures(spark, SF_SMALL)
    assert sigs.count() == 500
    n_buckets = sigs.select("bucket").distinct().count()
    assert 2 <= n_buckets <= 16  # 4 planes → at most 16 buckets


def test_bm25_topk_matches_pure_python(spark):
    """BM25 retrieval: rows-only for the driver (ln differs across
    engines in the last ulp), so the property test recomputes Okapi BM25
    in pure Python and checks ranking exactly + scores to 1e-6; the plan
    must contain WindowGroupLimit (map-side partial top-k — the per-query
    stratum never concentrates on one task)."""
    import math
    from collections import Counter, defaultdict

    import duckdb

    from retail_sales_project_bigdata_spark.operators.textstats import (
        BM25_B,
        BM25_K1,
        BM25_QUERIES,
        BM25_TOP_K,
        bm25_topk,
    )
    from retail_sales_project_bigdata_spark.plans import physical_plan
    from tests.conftest import SF_SMALL

    df = bm25_topk(spark, SF_SMALL)
    assert "WindowGroupLimit" in physical_plan(df)
    rows = df.collect()

    docs = duckdb.sql(
        f"SELECT doc_id, lower(text) FROM '{SF_SMALL}/documents.parquet'"
    ).fetchall()
    tfs, dls, dfs = {}, {}, Counter()
    for did, t in docs:
        c = Counter(t.split())
        tfs[did], dls[did] = c, sum(c.values())
        for term in c:
            dfs[term] += 1
    n, avgdl = len(docs), sum(dls.values()) / len(docs)

    def expected(q):
        out = []
        for did in tfs:
            s = 0.0
            for term in q.split():
                tf = tfs[did].get(term, 0)
                if not tf:
                    continue
                idf = math.log((n - dfs[term] + 0.5) / (dfs[term] + 0.5) + 1)
                s += idf * (tf * (BM25_K1 + 1)) / (
                    tf + BM25_K1 * (1 - BM25_B + BM25_B * dls[did] / avgdl)
                )
            if s > 0:
                out.append((did, s))
        out.sort(key=lambda x: (-x[1], x[0]))
        return out[:BM25_TOP_K]

    got = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r.q_id, r.rank)):
        got[r.q_id].append((r.doc_id, r.score))
    for q_id, q in BM25_QUERIES.items():
        exp = expected(q)
        assert [x[0] for x in got[q_id]] == [x[0] for x in exp], q_id
        assert all(
            abs(a[1] - round(b[1], 6)) <= 2e-6
            for a, b in zip(got[q_id], exp)
        ), q_id


def test_semantic_dedup_contract(spark):
    """Cluster-then-dedup invariants: full coverage (every vector gets a
    row), clusters come from the pivot set, and the survivor rule is
    greedy-by-id (a dropped vector always has a LOWER-id near-dup in its
    own cluster — so per cluster the minimum id always survives)."""
    from retail_sales_project_bigdata_spark.operators.similarity import (
        _num_pivots,
        semantic_dedup,
    )
    from tests.conftest import SF_SMALL

    out = semantic_dedup(spark, SF_SMALL).collect()
    assert len(out) == len({r.vec_id for r in out})
    assert len({r.cluster for r in out}) <= _num_pivots(len(out))
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster, []).append(r)
    for rows in by_cluster.values():
        min_id = min(r.vec_id for r in rows)
        for r in rows:
            if r.vec_id == min_id:
                assert r.is_survivor == 1, r  # lowest id never drops
            assert (r.n_dups_below == 0) == (r.is_survivor == 1), r


def test_semantic_dedup_lsh_contract(spark):
    """The bucket-assigned twin keeps the exact operator's invariants:
    full coverage, valid cluster ids (a pivot id or the vector's own id
    via the singleton fallback), greedy-by-id survivors, and the
    n_dups_below==0 <=> survivor equivalence (shared _semdedup_labels)."""
    from retail_sales_project_bigdata_spark.operators.similarity import (
        _num_pivots,
        semantic_dedup_lsh,
    )
    from tests.conftest import SF_SMALL

    out = semantic_dedup_lsh(spark, SF_SMALL).collect()
    assert len(out) == len({r.vec_id for r in out})
    n = len(out)
    # clusters: at most k pivots plus singletons (cluster == own id)
    pivot_clusters = {
        r.cluster for r in out if r.cluster != r.vec_id
    }
    assert len(pivot_clusters) <= _num_pivots(n)
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster, []).append(r)
    for rows in by_cluster.values():
        min_id = min(r.vec_id for r in rows)
        for r in rows:
            if r.vec_id == min_id:
                assert r.is_survivor == 1, r
            assert (r.n_dups_below == 0) == (r.is_survivor == 1), r
    # singletons can only survive (the conservative fallback direction)
    for r in out:
        if r.cluster == r.vec_id and len(by_cluster[r.cluster]) == 1:
            assert r.is_survivor == 1, r


def test_semantic_dedup_lsh_collapses_exact_duplicate_groups(spark):
    """Crafted corpus: identical vectors share every band bucket, hence
    every candidate pivot, hence (deterministic tie-breaks) the SAME
    cluster — so each exact-duplicate group must collapse to exactly
    one survivor (the minimum id), with orthogonal base patterns
    staying apart (cross-group cosine 0 < SEMDEDUP_COS)."""
    from pyspark.sql import functions as F
    from retail_sales_project_bigdata_spark.operators.similarity import (
        EMBEDDING_DIM,
        _semantic_dedup_lsh_from,
        _vectors_from_matrix_rows,
    )

    groups, copies = 10, 4
    rows = []
    for g in range(groups):
        base = [0.0] * EMBEDDING_DIM
        # two non-zero coords per base, disjoint across groups -> exact
        # orthogonality between groups
        base[2 * g] = 1.0
        base[2 * g + 1] = 0.5 + 0.1 * g
        for c in range(copies):
            rows.append((g * copies + c, base))
    vecs = _vectors_from_matrix_rows(
        spark.createDataFrame(rows, "vec_id long, v array<double>")
    )
    out = {
        r.vec_id: r
        for r in _semantic_dedup_lsh_from(vecs, len(rows)).collect()
    }
    assert len(out) == groups * copies
    for g in range(groups):
        ids = [g * copies + c for c in range(copies)]
        clusters = {out[i].cluster for i in ids}
        assert len(clusters) == 1, (g, clusters)
        survivors = [i for i in ids if out[i].is_survivor == 1]
        assert survivors == [min(ids)], (g, survivors)
        for i in ids[1:]:
            assert out[i].n_dups_below >= 1, (g, i)


def _crafted_mega_cluster(spark, n_fill: int, dup_copies: int):
    """One cluster of n_fill+dup_copies members for driving the shared
    label stage directly: a dup group of identical vectors on dim 0
    with the HIGHEST (tied) cos_p, plus pairwise-orthogonal one-hot
    fill vectors (cross cosine 0 < SEMDEDUP_COS) with distinct lower
    cos_p values.  Returns the (vec_id, v, norm, cluster, cos_p) frame
    of `_semdedup_labels`' input contract."""
    dim = n_fill + 1
    rows = []
    for c in range(dup_copies):
        v = [0.0] * dim
        v[0] = 2.0
        rows.append((c, v, 0.999))
    for i in range(n_fill):
        v = [0.0] * dim
        v[1 + i] = 1.0
        rows.append((dup_copies + i, v, 0.9 - i * 1e-6))
    from pyspark.sql import functions as F
    from retail_sales_project_bigdata_spark.operators.similarity import (
        _vectors_from_matrix_rows,
    )

    return _vectors_from_matrix_rows(
        spark.createDataFrame(
            [(i, v) for i, v, _ in rows], "vec_id long, v array<double>"
        )
    ).join(
        spark.createDataFrame(
            [(i, c) for i, _, c in rows], "vec_id long, cos_p double"
        ),
        "vec_id",
    ).withColumn("cluster", F.lit(999).cast("long"))


def test_semdedup_cap_bounds_block_sizes(spark):
    """VERDICT r8 watch item: a mega-cluster larger than
    SEMDEDUP_CLUSTER_CAP must be cut into rank-blocks of at most CAP
    members (pair work <= n·CAP, linear), deterministically."""
    from retail_sales_project_bigdata_spark.operators.similarity import (
        SEMDEDUP_CLUSTER_CAP,
        _semdedup_capped,
    )

    n = SEMDEDUP_CLUSTER_CAP + 8
    assigned = _crafted_mega_cluster(spark, n_fill=n - 5, dup_copies=5)
    sizes = (
        _semdedup_capped(assigned)
        .groupBy("cluster", "_sub")
        .count()
        .collect()
    )
    assert sum(r["count"] for r in sizes) == n
    assert max(r["count"] for r in sizes) <= SEMDEDUP_CLUSTER_CAP
    assert len(sizes) == -(-n // SEMDEDUP_CLUSTER_CAP)  # ceil


def test_semdedup_cap_preserves_duplicate_group_collapse(spark):
    """Splitting a mega-cluster must NOT change survivor semantics on a
    duplicate group: identical vectors carry IDENTICAL (pround'ed)
    cos_p, so they rank contiguously and land in one block — the group
    still collapses to exactly its minimum id, and every orthogonal
    fill vector still survives."""
    from retail_sales_project_bigdata_spark.operators.similarity import (
        SEMDEDUP_CLUSTER_CAP,
        _semdedup_labels,
    )

    n = SEMDEDUP_CLUSTER_CAP + 8
    assigned = _crafted_mega_cluster(spark, n_fill=n - 5, dup_copies=5)
    out = {r.vec_id: r for r in _semdedup_labels(assigned).collect()}
    assert len(out) == n
    assert [i for i in range(5) if out[i].is_survivor == 1] == [0]
    for i in range(1, 5):
        assert out[i].n_dups_below >= 1, i
    for i in range(5, n):
        assert out[i].is_survivor == 1, i


def test_semdedup_cap_boundary_split_is_conservative(spark):
    """A duplicate group larger than the cap necessarily straddles a
    block boundary; the unscanned cross-block pairs may only ADD
    survivors (one per block), never drop a vector that the uncapped
    scan would keep — the same conservative direction as the LSH twin's
    missed-band singletons."""
    from pyspark.sql import functions as F
    from retail_sales_project_bigdata_spark.operators.similarity import (
        SEMDEDUP_CLUSTER_CAP,
        _semdedup_labels,
        _vectors_from_matrix_rows,
    )

    n = SEMDEDUP_CLUSTER_CAP + 1  # identical vectors, all one cluster
    assigned = (
        _vectors_from_matrix_rows(
            spark.createDataFrame(
                [(i, [3.0, 4.0]) for i in range(n)],
                "vec_id long, v array<double>",
            )
        )
        .withColumn("cluster", F.lit(7).cast("long"))
        .withColumn("cos_p", F.lit(0.95))
    )
    out = {r.vec_id: r for r in _semdedup_labels(assigned).collect()}
    survivors = sorted(i for i in out if out[i].is_survivor == 1)
    # block 0 = ranks 1..CAP (ids 0..CAP-1, its min id 0 survives);
    # block 1 = the single overflow row (id CAP) — survives by block
    # isolation.  Exactly these two, nothing else.
    assert survivors == [0, SEMDEDUP_CLUSTER_CAP]
    for i in range(1, SEMDEDUP_CLUSTER_CAP):
        assert out[i].n_dups_below >= 1, i


def test_semantic_dedup_lsh_deterministic(spark):
    """Two runs produce identical rows — no RNG state anywhere (planes,
    pivots and tie-breaks are all hash-derived)."""
    from retail_sales_project_bigdata_spark.operators.similarity import (
        semantic_dedup_lsh,
    )
    from tests.conftest import SF_SMALL

    with query_scope(spark):
        one = sorted(map(tuple, semantic_dedup_lsh(spark, SF_SMALL).collect()))
    with query_scope(spark):
        two = sorted(map(tuple, semantic_dedup_lsh(spark, SF_SMALL).collect()))
    assert one == two


def test_documents_jsonl_roundtrip_counts(spark):
    """JSONL write→read digest has one row per source and covers every
    document (sum of per-source counts == table count)."""
    from retail_sales_project_bigdata_spark.operators.datasetops import (
        documents_jsonl_roundtrip,
    )
    from retail_sales_project_bigdata_spark.sources import read_table
    from tests.conftest import SF_SMALL

    out = documents_jsonl_roundtrip(spark, SF_SMALL).collect()
    n_docs = read_table(spark, SF_SMALL, "documents").count()
    assert sum(r.n_docs for r in out) == n_docs
    assert len({r.source for r in out}) == len(out)


def test_ann_mmr_topk_matches_reference(spark):
    """MMR rerank against a pure-Python reference run on the ENGINE's own
    candidate pool (isolates the greedy rerank logic; numpy 1-D dots in
    both, so scores are bit-identical)."""
    import numpy as np

    from retail_sales_project_bigdata_spark.operators.similarity import (
        MMR_K,
        MMR_LAMBDA,
        ann_mmr_topk,
        _vectors,
    )

    got = sorted(
        (r["q_id"], r["mmr_rank"], r["neighbor_id"], r["cosine"], r["mmr_score"])
        for r in ann_mmr_topk(spark, SF_SMALL).collect()
    )

    vecs = {
        r["vec_id"]: (np.asarray(r["v"], dtype=np.float64), r["norm"])
        for r in _vectors(spark, SF_SMALL).collect()
    }

    def cos(a, b):
        import math

        va, na = vecs[a]
        vb, nb = vecs[b]
        # fsum: exactly-rounded dot, matching the engine's discipline
        return math.fsum(x * y for x, y in zip(va, vb)) / (na * nb)

    expected = []
    for q in range(10):
        pool = sorted(
            ((cid, cos(q, cid)) for cid in vecs if cid != q),
            key=lambda t: (-t[1], t[0]),
        )[:30]
        selected = []
        max_sim = {cid: float("-inf") for cid, _ in pool}
        for step in range(1, min(MMR_K, len(pool)) + 1):
            def score(cid, rel):
                if not selected:
                    return rel
                return MMR_LAMBDA * rel - (1 - MMR_LAMBDA) * max_sim[cid]

            best, rel = min(
                ((cid, rel) for cid, rel in pool if cid not in selected),
                key=lambda t: (-score(t[0], t[1]), t[0]),
            )
            expected.append((q, step, best, rel, score(best, rel)))
            selected.append(best)
            for cid, _ in pool:
                max_sim[cid] = max(max_sim[cid], cos(best, cid))
    assert got == sorted(expected)

    # structural: rank 1 is the relevance argmax; ranks are 1..K per q
    by_q = {}
    for q, step, cid, rel, s in got:
        by_q.setdefault(q, []).append((step, cid, rel))
    for q, rows in by_q.items():
        rows.sort()
        assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
        assert rows[0][2] == max(r[2] for r in rows)


def test_near_dup_pairs_lsh_recall_on_crafted_clusters(spark):
    """Banded-LSH near-dup pairs on crafted clusters: 20 seeded base
    vectors, each with 4 small-perturbation copies (within-cluster cosine
    >= ~0.95) plus 60 random decoys.  The LSH twin must (a) emit ONLY
    pairs that truly clear the threshold with numpy-exact cosines, and
    (b) recall >= 95% of the true pairs — the analytic recall at R=6,
    B=12 for c >= 0.95 is ~1.0, so 95% leaves slack for the perturbation
    tail, not the algorithm."""
    import numpy as np

    from retail_sales_project_bigdata_spark.operators.similarity import (
        EMBEDDING_DIM,
        _near_dup_pairs_lsh_from,
        _vectors_from_matrix_rows,
    )

    rng = np.random.default_rng(7)
    rows = []
    for c in range(20):
        base = rng.standard_normal(EMBEDDING_DIM)
        base /= np.linalg.norm(base)
        for i in range(5):  # base + 4 perturbed copies
            # sigma=0.04/dim over 64 dims: cosine ~ 1/sqrt(1 + 64*.0016)
            # ~ 0.95 to the base, ~0.90 between two copies
            v = base + (0.0 if i == 0 else 0.04) * rng.standard_normal(
                EMBEDDING_DIM
            )
            rows.append(v)
    for _ in range(60):
        rows.append(rng.standard_normal(EMBEDDING_DIM))
    mat = np.array(rows)

    tau = 0.9
    normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = normed @ normed.T
    iu = np.triu_indices(len(mat), k=1)
    truth = {
        (int(a), int(b)): sims[a, b]
        for a, b in zip(*iu)
        if sims[a, b] >= tau
    }
    assert len(truth) >= 100  # the clusters actually produce near-dups

    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(mat)],
        "vec_id long, v array<double>",
    )
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in _near_dup_pairs_lsh_from(
            _vectors_from_matrix_rows(df), threshold=tau
        ).collect()
    }
    # (a) no false positives, values exact to the rounding grid
    for pair, cos in got.items():
        assert pair in truth or abs(cos - tau) < 1e-6
        if pair in truth:
            assert abs(cos - truth[pair]) < 1e-5
    # (b) recall on the crafted clusters
    recall = len(set(got) & set(truth)) / len(truth)
    assert recall >= 0.95, f"LSH recall {recall:.3f} below 0.95"


def test_near_dup_lcg_closed_form_matches_hyperplane():
    """The (k, A_k, C_k) literals the oracle SQL embeds reproduce
    _hyperplane EXACTLY: x_k = (A_k*x0 + C_k) mod 2^31 then the same
    two IEEE ops — the property that keeps the DuckDB-generated planes
    bit-identical to the Spark-side Python planes at ANY plane index
    (i.e. any derived geometry)."""
    from retail_sales_project_bigdata_spark.operators import similarity as s

    for p in (0, 100, 107, 523, 2047, s._NEAR_DUP_PLANE_BASE + 64 * 30 - 1):
        x0 = (p * 2654435761 + 987654321) & 0xFFFFFFFF
        vals = [
            ((a_k * x0 + c_k) % (1 << 31)) / 0x7FFFFFFF * 2.0 - 1.0
            for _k, a_k, c_k in s._LCG_CLOSED
        ]
        assert vals == s._hyperplane(s.EMBEDDING_DIM, p), p


def test_near_dup_geometry_derivation_matches_sql():
    """Python (plan build) and DuckDB (oracle) derive the SAME (R, B)
    from a corpus count — integer-exact bit-length log2 plus the shared
    literal B table — across the whole clamp range."""
    import duckdb

    from retail_sales_project_bigdata_spark.operators import similarity as s

    for n in (1, 3, 500, 2000, 4096, 20000, 10**6, 10**9, 4 * 2**32):
        r, b = s.near_dup_geometry(n)
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW t AS SELECT * FROM range({n}) LIMIT 0"
        )  # COUNT comes from a literal below; view only sanity-checks SQL
        got = con.execute(
            "SELECT r, b FROM ("
            + s._near_dup_geom_sql(f"(SELECT 1 FROM range({min(n, 10)}))")
            .replace("COUNT(*)", str(n))
            + ")"
        ).fetchone()
        con.close()
        assert (r, b) == got, (n, (r, b), got)
    # derived geometry is monotone in R and collision-bounded:
    # 2^R stays within a factor TARGET*2 of n across the ramp
    for n in (600, 5000, 80000, 10**6):
        r, _ = s.near_dup_geometry(n)
        if s.NEAR_DUP_R_MIN < r < s.NEAR_DUP_R_MAX:
            assert 2**r <= n // s.NEAR_DUP_TARGET_BUCKET_IDS < 2 ** (r + 1)


def test_near_dup_geometry_gate_point_unchanged():
    """At the driver gate's corpus (500 vectors) the derivation lands on
    the round-5 certified geometry, so gate values are stable."""
    from retail_sales_project_bigdata_spark.operators import similarity as s

    assert s.near_dup_geometry(500) == (6, 12)


def test_quantize_typed_and_gate_forms_agree(spark):
    """The typed library form (quant: array<int>) and the registered
    gate form (quant_csv: string) are the same computation — the gate
    form only serializes, per the scalar-only gate-output convention
    (round-6 red row: the driver's pandas canonicalizer cannot sort
    list cells)."""
    from pyspark.sql.types import ArrayType, IntegerType

    from retail_sales_project_bigdata_spark.operators.similarity import (
        embedding_quantize_int8,
        embedding_quantize_int8_vectors,
    )

    typed = embedding_quantize_int8_vectors(spark, SF_SMALL)
    [qf] = [f for f in typed.schema.fields if f.name == "quant"]
    assert isinstance(qf.dataType, ArrayType)
    assert isinstance(qf.dataType.elementType, IntegerType)

    reserialized = typed.select(
        "vec_id",
        "scale",
        F.expr(
            "array_join(transform(quant, x -> cast(x as string)), ',')"
        ).alias("quant_csv"),
        "n_sat",
    )
    gate = embedding_quantize_int8(spark, SF_SMALL)
    assert gate.schema == reserialized.schema
    assert gate.exceptAll(reserialized).count() == 0
    assert reserialized.exceptAll(gate).count() == 0
    # int8 range really holds after the floor(±127) clamp-by-construction
    mx = typed.select(
        F.max(F.expr("array_max(transform(quant, x -> abs(x)))")).alias("m")
    ).first()["m"]
    assert mx <= 127
