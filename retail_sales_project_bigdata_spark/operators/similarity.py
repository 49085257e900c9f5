"""Similarity search over the ``embeddings`` table (north-star ops).

Brute-force cosine top-k is the correctness baseline (exact DuckDB oracle:
both engines compute the dot product as an in-order fold over the same
array, so doubles match bit-for-bit).  The scale path is random-hyperplane
LSH: signature buckets shrink the candidate set; recall against the
brute-force baseline is property-tested.

Scale design: queries are broadcast (a query batch is small by
definition); the corpus side stays partitioned — the cross join is then
a broadcast-nested-loop over each partition with no shuffle of the corpus.
At 100 TB you additionally pre-filter candidates by LSH bucket before the
exact rerank (``ann_lsh_topk``) — the same two-phase shape as the dedup
LSH: cheap candidate generation, exact verification.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from retail_sales_project_bigdata_spark.functions import (
    oracle_ordered_avg,
    ordered_avg,
    pround,
    pround_np,
)
from retail_sales_project_bigdata_spark.sources import (
    fan_out,
    read_table,
    table_rows,
)

N_QUERY_VECS = 10  # vec_id < 10 are the query set
TOP_K = 10
LSH_PLANES = 4  # random-hyperplane signature bits (16 buckets; more planes = higher precision, lower recall)


EMBEDDING_DIM = 64
NEAR_DUP_THRESHOLD = 0.5  # shared by both near-dup variants AND their oracle SQL


def _dot_expr(a: str, b: str) -> F.Column:
    """In-order fold dot product over two array<double> columns, built
    from ONE SQL string.

    Parity: a left-to-right fold with a 0.0 seed (``0 + x == x``
    exactly) — bitwise identical to DuckDB's ``list_dot_product``
    sequential sum, which is what makes the ANN oracles exact.

    Why a string: constructing an equivalent tree through the Python
    column API (64 unrolled terms, or per-element lambdas) issues
    thousands of Py4J calls and hands Catalyst a ~250-node expression
    that constraint inference then clones into join filters — at small
    row counts ANALYSIS dominated execution 4:1 for the ANN queries.
    One ``F.expr`` parse yields a 7-node tree; planning cost becomes
    row-count-independent, which is also what you want on a
    1000-executor cluster where the driver plans while executors idle."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
        " cast(0 as double), (acc, x) -> acc + x)"
    )


def _vector_rows(emb: DataFrame) -> DataFrame:
    """``(vec_id, label, v, norm)`` over an ``embeddings`` frame, on the
    frame's own partitions.  The numpy callers read the scan as it comes:
    their map work is one vectorized Python stage, which a round-robin
    fan-out would only split into more Python tasks (see
    :func:`sources.fan_out`)."""
    return _vectors_from_matrix_rows(
        emb.select(
            "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
        )
    )


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`_vector_rows` of the fanned-out scan, for the callers whose
    map work is per-pair 64-term dot products."""
    return _vector_rows(fan_out(read_table(spark, sf_dir, "embeddings")))


def _vectors_from_matrix_rows(df: DataFrame) -> DataFrame:
    """Attach the fold-exact norm to an arbitrary (vec_id, v) frame —
    lets tests drive the vector operators with crafted matrices."""
    return df.withColumn("norm", F.sqrt(_dot_expr("v", "v")))


def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (vec_id < 10).

    Broadcast queries × partitioned corpus → per-query ranking window.
    """
    return _bruteforce_topk_from(_vectors(spark, sf_dir))


def _bruteforce_topk_from(vecs: DataFrame) -> DataFrame:
    queries = (
        vecs.filter(F.col("vec_id") < N_QUERY_VECS)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("q_v"),
            F.col("norm").alias("q_norm"),
        )
    )
    corpus = vecs.select(
        F.col("vec_id").alias("c_id"), "v", "norm"
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("c_id") != F.col("q_id"))
        .withColumn(
            "cosine",
            pround(_dot_expr("q_v", "v") / (F.col("q_norm") * F.col("norm")), 6),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", F.col("c_id").alias("neighbor_id"), "cosine", "rank")
    )


ANN_BRUTEFORCE_TOPK_SQL = f"""
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS norm
  FROM embeddings
),
queries AS (SELECT vec_id AS q_id, v AS q_v, norm AS q_norm FROM vecs WHERE vec_id < {N_QUERY_VECS}),
scored AS (
  SELECT q.q_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.q_v, c.v) / (q.q_norm * c.norm), 6) AS cosine
  FROM queries q CROSS JOIN vecs c
  WHERE c.vec_id <> q.q_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY q_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT q_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {TOP_K}
"""


def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane from a fixed integer hash —
    no RNG state, reproducible across runs/engines/partitions."""
    vals = []
    x = (plane * 2654435761 + 987654321) & 0xFFFFFFFF
    for _ in range(dim):
        x = (x * 1103515245 + 12345) & 0x7FFFFFFF
        vals.append((x / 0x7FFFFFFF) * 2.0 - 1.0)
    return vals


def _plane_sql(p: int) -> str:
    """Hyperplane as a DuckDB double-list literal — same repr round-trip
    literals as the Spark plan, so both engines dot against identical
    doubles."""
    return "[" + ", ".join(repr(x) for x in _hyperplane(EMBEDDING_DIM, p)) + "]"


def _bucket_expr(vec_col: str = "v") -> F.Column:
    """Hyperplane LSH bucket as one SQL-string expression over a vector
    column (see _dot_expr: per-literal Column construction costs more in
    Py4J/analysis than execution).  Planes are deterministic literals
    compiled into the plan — broadcast implicitly with it, no driver
    state; reusable map-side wherever the vector column is in scope."""
    terms = []
    for p in range(LSH_PLANES):
        plane = ", ".join(f"{x!r}D" for x in _hyperplane(EMBEDDING_DIM, p))
        dot = (
            f"aggregate(zip_with({vec_col}, array({plane}), (x, y) -> x * y),"
            " cast(0 as double), (acc, x) -> acc + x)"
        )
        terms.append(f"if({dot} > 0D, {2 ** p}, 0)")
    return F.expr(" + ".join(terms)).cast("int")


def lsh_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane (SimHash-for-cosine) signatures: bit_i =
    sign(v · plane_i)."""
    vecs = _vector_rows(read_table(spark, sf_dir, "embeddings"))
    return vecs.select("vec_id", "label", _bucket_expr().alias("bucket"))


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase ANN: LSH bucket match (cheap candidates) → exact cosine
    rerank within candidates.  Recall vs ann_bruteforce_topk is
    property-tested; rows-only for the driver (approximate by design)."""
    return _lsh_topk_from(_vectors(spark, sf_dir))


def _lsh_topk_from(vecs: DataFrame) -> DataFrame:
    # Bucket attached MAP-SIDE via the shared expression — joining the
    # lsh_signatures frame back on vec_id would rescan embeddings and
    # shuffle both sides to rebuild a column that is a pure function of v.
    with_sig = vecs.withColumn("bucket", _bucket_expr())
    queries = (
        with_sig.filter(F.col("vec_id") < N_QUERY_VECS)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("q_v"),
            F.col("norm").alias("q_norm"),
            F.col("bucket").alias("q_bucket"),
        )
    )
    cand = (
        with_sig.alias("c")
        .join(
            F.broadcast(queries).alias("q"),
            (F.col("c.bucket") == F.col("q.q_bucket"))
            & (F.col("c.vec_id") != F.col("q.q_id")),
        )
        .withColumn(
            "cosine",
            pround(
                _dot_expr("q_v", "v") / (F.col("q.q_norm") * F.col("c.norm")),
                6,
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c.vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            F.col("q.q_id").alias("q_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            "cosine",
            "rank",
        )
    )


IVF_CLUSTERS = 16
IVF_NPROBE = 4



def _hash_sample_train(vecs: DataFrame, target: int = 4096):
    """Deterministic, scale-invariant driver-side training sample: keep
    vec_ids whose xxhash64 lands in 1/step of the space, where step grows
    with the corpus — the sample THINS as data grows instead of
    ballooning.  Returns a numpy matrix (shared by the IVF and PQ
    quantizer trainers — the FAISS design: a small quantizer needs a few
    thousand vectors and in-memory Lloyd iterations, not a distributed
    fit that costs one full-corpus pass per iteration)."""
    import numpy as np

    n_vecs = vecs.count()
    step = max(1, n_vecs // target)
    sample = (
        vecs.filter(F.pmod(F.xxhash64("vec_id"), F.lit(step)) == 0)
        .select("v")
        .collect()
    )
    return np.array([r.v for r in sample])


def _lloyd(train, k: int, rng, iters: int = 8):
    """In-memory Lloyd k-means on the training sample: O(sample × k) per
    iteration, deterministic under the caller's rng; empty clusters keep
    their previous centroid."""
    k = min(k, len(train))
    cents = train[rng.choice(len(train), size=k, replace=False)]
    for _ in range(iters):
        d2 = ((train[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(k):
            members = train[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def _arr_lit(values: list[float]) -> str:
    """array<double> literal SQL for a centroid."""
    return "array(" + ", ".join(f"{x!r}D" for x in values) + ")"


def _sq_dist_argmin_expr(vec_sql: str, cents: list[list[float]]) -> F.Column:
    """Argmin over squared distances from ``vec_sql`` to each centroid,
    as ONE codegen-able expression (0-based; first-match array_position
    is the deterministic tie-break).  The centroid literals compile into
    the plan, i.e. broadcast with it — a map-only pass at any scale.

    The k distance folds are bound ONCE via a single-element
    ``transform`` lambda (SQL has no ``let``; a lambda variable is the
    idiom) instead of spelling ``array(dists)`` twice inside
    ``array_position(..., array_min(...))`` — the r9 form carried 2k
    aggregate folds per row in the plan (optimization round r10, guide
    §1.2 per-task work: halves the expression tree, plan text and
    codegen size; runtime subexpression elimination hid most of the
    duplicate cost locally, but the first execution — codegen compile —
    measured 0.78 → 0.27 s on the IVF corpus scan, and interpreted
    fallbacks pay the duplication in full)."""
    dists = ", ".join(
        f"aggregate(zip_with({vec_sql}, {_arr_lit(c)},"
        " (x, y) -> (x - y) * (x - y)), cast(0 as double),"
        " (acc, x) -> acc + x)"
        for c in cents
    )
    return F.expr(
        f"element_at(transform(array(array({dists})), d ->"
        " cast(array_position(d, array_min(d)) - 1 as int)), 1)"
    )


def _pq_code_expr(
    vec_sql: str, codebooks: list[list[list[float]]], sub_dim: int
) -> F.Column:
    """Per-subspace PQ codes of ``vec_sql`` — an array of
    ``len(codebooks)`` argmins, each over that subquantizer's centroids
    against the matching subvector slice."""
    # Same single-binding idiom as _sq_dist_argmin_expr: the r9 form
    # repeated each subspace's 16 distance folds twice (256 folds per
    # row for the 8-subspace PQ encode); the lambda binding halves it.
    parts = []
    for j, book in enumerate(codebooks):
        start = j * sub_dim + 1  # slice() is 1-indexed
        dists = ", ".join(
            f"aggregate(zip_with(slice({vec_sql}, {start}, {sub_dim}),"
            f" {_arr_lit(c)},"
            " (x, y) -> (x - y) * (x - y)), cast(0 as double),"
            " (acc, x) -> acc + x)"
            for c in book
        )
        parts.append(
            f"element_at(transform(array(array({dists})), d ->"
            " cast(array_position(d, array_min(d)) - 1 as int)), 1)"
        )
    return F.expr("array(" + ", ".join(parts) + ")")


def _nearest_clusters(
    v: list[float], centroids: list[list[float]], nprobe: int
) -> list[int]:
    """Driver-side: indexes of the ``nprobe`` nearest coarse centroids."""
    dists = [
        (sum((a - b) ** 2 for a, b in zip(v, c)), i)
        for i, c in enumerate(centroids)
    ]
    return [i for _, i in sorted(dists)[:nprobe]]


def _adc_tables(
    q_v: list[float], codebooks: list[list[list[float]]], sub_dim: int
) -> list[list[float]]:
    """Driver-side per-query ADC tables: for each subspace, the dot
    products of the query subvector against that subquantizer's
    centroids — a candidate's approximate dot is then one lookup per
    subspace instead of a full multiply."""
    return [
        [
            float(
                sum(
                    a * b
                    for a, b in zip(q_v[j * sub_dim : (j + 1) * sub_dim], c)
                )
            )
            for c in book
        ]
        for j, book in enumerate(codebooks)
    ]


def _exact_rerank_topk(scored: DataFrame) -> DataFrame:
    """Shared tail of every quantized ANN variant: exact cosine on the
    shortlist (so returned scores match brute force bit-for-bit), dense
    per-query top-``TOP_K``."""
    rer = scored.withColumn(
        "cosine",
        pround(
            _dot_expr("q_v", "v") / (F.col("q.q_norm") * F.col("c.norm")), 6
        ),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c.vec_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            F.col("q.q_id").alias("q_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            "cosine",
            "rank",
        )
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: a KMeans coarse quantizer partitions the corpus into
    inverted lists; each query probes its ``IVF_NPROBE`` nearest centroids
    and exactly reranks only those lists — the classic
    cluster-then-probe alternative to hyperplane LSH (``ann_lsh_topk``).

    Scale shape: the centroid table is tiny (k × dim) and broadcasts; the
    corpus is scanned once to attach ``cluster`` (at production scale this
    is a one-off indexing job persisted alongside the vectors, and probe
    joins prune to nprobe/k of the corpus).  Rows-only (KMeans centroids
    are seed/engine-specific); recall vs brute force is property-tested.
    """
    import numpy as np

    vecs = _vectors(spark, sf_dir)
    train = _hash_sample_train(vecs)
    cents = _lloyd(train, IVF_CLUSTERS, np.random.default_rng(42))
    centroids = [list(map(float, c)) for c in cents]

    assigned = vecs.select(
        "vec_id",
        "v",
        "norm",
        _sq_dist_argmin_expr("v", centroids).alias("cluster"),
    )

    queries = assigned.filter(F.col("vec_id") < N_QUERY_VECS).collect()
    probe_rows = [
        (q.vec_id, q.v, q.norm, cluster)
        for q in queries
        for cluster in _nearest_clusters(q.v, centroids, IVF_NPROBE)
    ]
    probes = spark.createDataFrame(
        probe_rows, "q_id long, q_v array<double>, q_norm double, cluster int"
    )

    cand = assigned.alias("c").join(
        F.broadcast(probes).alias("q"),
        (F.col("c.cluster") == F.col("q.cluster"))
        & (F.col("c.vec_id") != F.col("q.q_id")),
    )
    return _exact_rerank_topk(cand)


PQ_SUBSPACES = 8  # 64-dim → 8 subvectors of 8 dims
PQ_CODEBOOK = 16  # centroids per subquantizer (4-bit codes)
PQ_RERANK = 50  # ADC shortlist size before exact rerank


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC) and exact rerank — the memory-bound scale path: each 64-dim
    float vector compresses to eight 4-bit codes (4 bytes vs 512), so at
    100 TB the code table fits where the raw vectors cannot.

    Pipeline (mirrors the FAISS IndexPQ design):
    1. train 8 independent 16-centroid subquantizers driver-side on a
       deterministic hash sample (same rationale as ``ann_ivf_topk``);
    2. encode the corpus map-only: per-subspace argmin over 16 fold
       distances, compiled into one codegen'd expression — no MLlib, no
       shuffle, the codebook literals broadcast with the plan;
    3. ADC scan: each query precomputes, per subspace, the 16 dot
       products against that subquantizer's centroids; a corpus row's
       approximate dot is then 8 table lookups instead of 64 multiplies;
    4. exact rerank of the top-``PQ_RERANK`` ADC candidates per query, so
       returned cosines are exact (recall vs brute force is what the
       compression trades; property-tested).
    Rows-only: codebooks are sample/seed-specific.
    """
    import numpy as np

    vecs = _vectors(spark, sf_dir)
    train = _hash_sample_train(vecs)
    dim = train.shape[1]
    sub_dim = dim // PQ_SUBSPACES
    rng = np.random.default_rng(42)

    codebooks: list[list[list[float]]] = []
    for j in range(PQ_SUBSPACES):
        sub = train[:, j * sub_dim : (j + 1) * sub_dim]
        cents = _lloyd(sub, PQ_CODEBOOK, rng)
        codebooks.append([list(map(float, c)) for c in cents])

    encoded = vecs.select(
        "vec_id",
        "v",
        "norm",
        _pq_code_expr("v", codebooks, sub_dim).alias("codes"),
    )

    queries = encoded.filter(F.col("vec_id") < N_QUERY_VECS).collect()
    probe_rows = [
        (q.vec_id, q.v, q.norm, _adc_tables(q.v, codebooks, sub_dim))
        for q in queries
    ]
    probes = spark.createDataFrame(
        probe_rows,
        "q_id long, q_v array<double>, q_norm double,"
        " tables array<array<double>>",
    )

    adc = F.expr(
        f"aggregate(sequence(1, {PQ_SUBSPACES}), cast(0 as double),"
        " (acc, j) -> acc + element_at(element_at(tables, j),"
        " element_at(codes, j) + 1))"
    )
    cand = (
        encoded.alias("c")
        .join(
            F.broadcast(probes).alias("q"),
            F.col("c.vec_id") != F.col("q.q_id"),
        )
        .withColumn(
            "adc_score", adc / (F.col("q.q_norm") * F.col("c.norm"))
        )
    )
    w_adc = Window.partitionBy("q_id").orderBy(
        F.desc("adc_score"), F.asc("c.vec_id")
    )
    shortlist = cand.withColumn("adc_rank", F.row_number().over(w_adc)).filter(
        F.col("adc_rank") <= PQ_RERANK
    )
    return _exact_rerank_topk(shortlist)


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF and PQ composed — the FAISS IndexIVFPQ (IVFADC) search shape,
    the combination that serves web-scale ANN from RAM: per query, scan
    only ``IVF_NPROBE``/``IVF_CLUSTERS`` of the corpus (IVF pruning) at 4
    bytes per vector (PQ codes) instead of the full corpus at 512.

    1. The coarse quantizer (sampled Lloyd, as ``ann_ivf_topk``)
       partitions the corpus into inverted lists.
    2. PQ codebooks train on RESIDUALS (v − assigned coarse centroid) of
       the same sample — residuals are much smaller in magnitude than raw
       vectors, so 4-bit codes quantize them with less error; this is
       why FAISS encodes residuals rather than raw vectors.
    3. Corpus encoding is map-only codegen: cluster argmin, one residual
       ``zip_with``, then the 8 per-subspace code argmins — every
       centroid literal compiles into the plan (broadcast with it), no
       MLlib, no shuffle.
    4. A query's approximate dot against a candidate decomposes as
       q·c (one scalar per probed list, precomputed driver-side) plus 8
       ADC table lookups (q-subvector · residual-codebook entries).
    5. The per-query ADC shortlist is exactly reranked, so returned
       cosines are exact; what the compression trades is recall, which
       the property test pins alongside exact-score parity.

    Rows-only: quantizers are sample/seed-specific (same rationale as
    ``ann_ivf_topk`` / ``ann_pq_topk``).
    """
    import numpy as np

    vecs = _vectors(spark, sf_dir)
    train = _hash_sample_train(vecs)
    dim = train.shape[1]
    sub_dim = dim // PQ_SUBSPACES
    rng = np.random.default_rng(42)

    cents = _lloyd(train, IVF_CLUSTERS, rng)
    centroids = [list(map(float, c)) for c in cents]
    d2 = ((train[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    resid_train = train - cents[d2.argmin(axis=1)]
    codebooks = [
        [
            list(map(float, c))
            for c in _lloyd(
                resid_train[:, j * sub_dim : (j + 1) * sub_dim],
                PQ_CODEBOOK,
                rng,
            )
        ]
        for j in range(PQ_SUBSPACES)
    ]

    coarse_lit = "array(" + ", ".join(_arr_lit(c) for c in centroids) + ")"
    assigned = vecs.select(
        "vec_id",
        "v",
        "norm",
        _sq_dist_argmin_expr("v", centroids).alias("cluster"),
    ).withColumn(
        "r",
        F.expr(
            f"zip_with(v, element_at({coarse_lit}, cluster + 1),"
            " (x, y) -> x - y)"
        ),
    )
    encoded = assigned.select(
        "vec_id",
        "v",
        "norm",
        "cluster",
        _pq_code_expr("r", codebooks, sub_dim).alias("codes"),
    )

    queries = encoded.filter(F.col("vec_id") < N_QUERY_VECS).collect()
    probe_rows = []
    for q in queries:
        tables = _adc_tables(q.v, codebooks, sub_dim)
        for cl in _nearest_clusters(q.v, centroids, IVF_NPROBE):
            q_dot_c = float(sum(a * b for a, b in zip(q.v, centroids[cl])))
            probe_rows.append((q.vec_id, q.v, q.norm, cl, q_dot_c, tables))
    probes = spark.createDataFrame(
        probe_rows,
        "q_id long, q_v array<double>, q_norm double, cluster int,"
        " q_dot_c double, tables array<array<double>>",
    )

    adc = F.expr(
        f"q_dot_c + aggregate(sequence(1, {PQ_SUBSPACES}),"
        " cast(0 as double), (acc, j) -> acc + element_at("
        "element_at(tables, j), element_at(codes, j) + 1))"
    )
    cand = (
        encoded.alias("c")
        .join(
            F.broadcast(probes).alias("q"),
            (F.col("c.cluster") == F.col("q.cluster"))
            & (F.col("c.vec_id") != F.col("q.q_id")),
        )
        .withColumn(
            "adc_score", adc / (F.col("q.q_norm") * F.col("c.norm"))
        )
    )
    w_adc = Window.partitionBy("q_id").orderBy(
        F.desc("adc_score"), F.asc("c.vec_id")
    )
    shortlist = cand.withColumn(
        "adc_rank", F.row_number().over(w_adc)
    ).filter(F.col("adc_rank") <= PQ_RERANK)
    return _exact_rerank_topk(shortlist)


def embedding_near_dup_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = NEAR_DUP_THRESHOLD
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine ≥ 0.5) — the
    embedding-space analog of ngram_jaccard_pairs.  Exact all-pairs at test
    scale; at 100 TB the LSH bucket join replaces the cross join.

    Guarded: exact ANCHOR for the LSH path — fails loudly above the
    configured input bound instead of exploding O(n²) (VERDICT r1 item 2).
    """
    from retail_sales_project_bigdata_spark.operators.guards import (
        guard_anchor_rows,
    )

    vecs = _vectors(spark, sf_dir)
    guard_anchor_rows(
        vecs,
        "embedding_near_dup_pairs",
        "embedding_near_dup_pairs_lsh (banded LSH pair join)",
        default_bound=200_000,
    )
    return _near_dup_pairs_exact_from(vecs, threshold)


def _near_dup_pairs_exact_from(
    vecs: DataFrame, threshold: float
) -> DataFrame:
    """Exact all-pairs near-dup scan over a prepared (vec_id, v, norm)
    frame — quadratic; callers guard or sample their input."""
    a = vecs.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("v_a"), F.col("norm").alias("norm_a")
    )
    b = vecs.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("v_b"), F.col("norm").alias("norm_b")
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine_raw",
            _dot_expr("v_a", "v_b") / (F.col("norm_a") * F.col("norm_b")),
        )
        .filter(F.col("cosine_raw") >= threshold)
        .select("id_a", "id_b", pround("cosine_raw", 6).alias("cosine"))
    )


EMBEDDING_NEAR_DUP_PAIRS_SQL = f"""
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS norm
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_dot_product(a.v, b.v) / (a.norm * b.norm), 6) AS cosine
FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) / (a.norm * b.norm) >= {NEAR_DUP_THRESHOLD}
"""


# Banded hyperplane-LSH parameters for the near-dup PAIRS scale path.
# Two vectors are candidates when ALL planes of at least ONE band agree
# on their side — P(candidate | cosine c) = 1 - (1 - p^R)^B with
# p = 1 - acos(c)/pi.  At R=6, B=12: recall ~1.00 at c=0.95, ~0.998 at
# 0.9, ~0.97 at 0.8; random pairs (c~0) collide in ~1.6% of bands.
#
# SCALE GEOMETRY (r6, replacing the fixed r5 knobs): random-pair
# candidates are collision-bounded at ~B·n²/2^R — sub-exact by 2^R/B
# but QUADRATIC at fixed (R, B), and the sf1 probe measured exactly
# that (SCALING.md r5 step: 16.9x per 10x data).  R is therefore
# DERIVED from the corpus count at plan build —
#   R = floor(log2(n / TARGET_BUCKET_IDS)) clamped to
#   [6, NEAR_DUP_R_MAX] (19: the largest R whose design-recall band
#   count fits NEAR_DUP_B_MAX — clamping B instead would silently void
#   the recall guarantee)
# — so 2^R tracks n and expected random collisions stay
# ~B·n·TARGET/2 per band: data-proportional.  B comes from a
# precomputed table sized to hold the design recall (≥ 1 -
# NEAR_DUP_DESIGN_MISS at cosine NEAR_DUP_DESIGN_COSINE — the same
# ~0.9998 the r5 (R=6, B=12) geometry delivered), because sharper
# bands need more of them.  At the gate SF (500 vectors) the
# derivation lands exactly on the r5 default (R=6, B=12): gate values
# unchanged.
#
# ORACLE EXACTNESS WITH A DERIVED GEOMETRY: the DuckDB SQL derives the
# SAME (R, B) from COUNT(*) with integer-exact ops (length(bin(x)) - 1
# is floor(log2); the B table is a CASE over literals computed once
# below) and generates the SAME planes via the closed form of
# :func:`_hyperplane`'s LCG — x_k = (a^k·x0 + c·Σa^j) mod 2^31 with
# the per-k constants embedded as literals — so every step is integer
# modular math or one correctly-rounded IEEE op, identical across
# engines, and the gate stays hash-exact at ANY corpus size
# (verified by the oracle gate at two different SFs → two different
# derived geometries).
#
# Past what the derived R can absorb (n ~ 4·2^19 ≈ 2M vectors),
# collisions grow again with recall held — at that scale partition the
# corpus (IVF lists / semantic_dedup pivots) rather than sharpen bands
# past the design-recall budget.
import math as _math

# Aim ~n/2^R candidate ids per (band, bucket).  4 is the measured sweet
# spot at sf1: 16 (coarser buckets, R-2) bought recall 0.553 -> 0.658 at
# the 0.5-threshold tail but re-broke the scale trend (5.96s -> 33.6s —
# coarse buckets capture embedding clusters quadratically); the design-
# point recall (>= 0.9998 at cosine >= 0.95) holds at every derived
# geometry regardless.  See SCALING.md round-6 notes for the frontier.
NEAR_DUP_TARGET_BUCKET_IDS = 4
NEAR_DUP_R_MIN = 6
# int32 bitmask bound — R=31 would wrap the bucket shift (engines wrap
# differently); never derive past it even if B allowed
_NEAR_DUP_R_HARD_MAX = 30
NEAR_DUP_B_MAX = 64
NEAR_DUP_DESIGN_COSINE = 0.95
NEAR_DUP_DESIGN_MISS = 2e-4  # reproduces the r5 (R=6 -> B=12) point


def _bands_for(r_planes: int) -> int:
    """Bands needed so a pair at the design cosine is missed with
    probability <= NEAR_DUP_DESIGN_MISS when each band has r_planes
    bits: B = ceil(log(miss) / log(1 - p^R)), p = 1 - acos(c)/pi.
    UNCLAMPED — the caller bounds R so this never exceeds
    NEAR_DUP_B_MAX (clamping B here would silently void the design
    recall exactly at the scales the derivation targets)."""
    p = 1.0 - _math.acos(NEAR_DUP_DESIGN_COSINE) / _math.pi
    miss_per_band = 1.0 - p**r_planes
    b = _math.ceil(
        _math.log(NEAR_DUP_DESIGN_MISS) / _math.log(miss_per_band)
    )
    return max(1, b)


# R stops where the design recall would need more than NEAR_DUP_B_MAX
# bands (R=20 already needs 68): past NEAR_DUP_R_MAX the derivation
# HOLDS RECALL and lets collisions grow instead of silently dropping
# near-duplicates — at that scale (n ~ 4*2^19 ≈ 2M vectors) the
# documented route is partitioning the corpus (semantic_dedup pivots /
# IVF lists), not sharper bands.
NEAR_DUP_R_MAX = max(
    r
    for r in range(NEAR_DUP_R_MIN, _NEAR_DUP_R_HARD_MAX + 1)
    if _bands_for(r) <= NEAR_DUP_B_MAX
)

# Float math happens ONCE here; both engines consume the resulting
# integer literals (Spark via near_dup_geometry, DuckDB via a CASE).
NEAR_DUP_B_TABLE = {
    r: _bands_for(r) for r in range(NEAR_DUP_R_MIN, NEAR_DUP_R_MAX + 1)
}
assert all(b <= NEAR_DUP_B_MAX for b in NEAR_DUP_B_TABLE.values())


def near_dup_geometry(n: int) -> tuple[int, int]:
    """(planes-per-band R, bands B) for a corpus of n vectors —
    integer-exact mirror of the SQL derivation in
    :func:`_near_dup_geom_sql` (x.bit_length()-1 == length(bin(x))-1
    == floor(log2 x))."""
    x = max(n // NEAR_DUP_TARGET_BUCKET_IDS, 1)
    r = min(NEAR_DUP_R_MAX, max(NEAR_DUP_R_MIN, x.bit_length() - 1))
    return r, NEAR_DUP_B_TABLE[r]


_NEAR_DUP_PLANE_BASE = 100  # disjoint from the ann_lsh planes (0..3)


def _band_plane_idx(band: int, r_planes: int, bit: int) -> int:
    return _NEAR_DUP_PLANE_BASE + band * r_planes + bit


def _near_dup_pairs_lsh_from(
    vecs: DataFrame,
    threshold: float,
    geometry: tuple[int, int] | None = None,
) -> DataFrame:
    """LSH candidate generation + exact verify over a prepared
    (vec_id, v, norm) frame — split out so property tests can drive it
    with crafted near-duplicate clusters.  ``geometry`` is the
    (planes-per-band, bands) pair; None derives it from the frame's
    own count (one tiny count job — callers that already know the
    corpus size pass it in to skip that)."""
    spark = vecs.sparkSession
    if geometry is None:
        geometry = near_dup_geometry(vecs.count())
    r_planes, bands = geometry
    # Planes travel as a broadcast DATA table (B*R rows x 64 doubles),
    # not as plan literals: inlining B*R plane arrays into the per-row
    # projection hands janino a ~5k-literal-node tree per join side
    # (measured: +4s codegen/analysis at ANY row count).  As data, the
    # literals materialize once, the dot/bucket expression stays 7 nodes,
    # and the broadcast + partial agg are map-side — same FLOPs, small
    # plan.  Bucket bits are exact integers, so SUM order is irrelevant.
    planes = spark.createDataFrame(
        [
            (b, r, _hyperplane(EMBEDDING_DIM, _band_plane_idx(b, r_planes, r)))
            for b in range(bands)
            for r in range(r_planes)
        ],
        "band int, bit int, p array<double>",
    )
    sig = (
        vecs.select("vec_id", "v")
        .join(F.broadcast(planes))
        .groupBy("vec_id", "band")
        .agg(
            F.sum(
                F.when(
                    _dot_expr("v", "p") > 0,
                    F.expr("shiftleft(1, bit)"),
                ).otherwise(0)
            )
            .cast("int")
            .alias("bucket")
        )
    )
    # VERIFY INSIDE THE BAND JOIN.  The candidate space is ~B*n²/2^R id
    # pairs; shipping it through a distinct plus two vector-fetch joins
    # made THREE candidate-sized shuffles (the r5 sf1 probe: 76 s, and
    # all of it in those exchanges).  Instead the (band, bucket) join
    # carries each side's vector — the signature frame grows to B
    # vector copies per id (n*B rows, corpus-linear), tiny next to the
    # candidate set — and the cosine + threshold filter run IN the join
    # projection, so the only candidate-sized data is streamed through
    # codegen and dies map-side; every later shuffle (the pair dedup)
    # sees survivors only.  A pair colliding in k bands computes its
    # cosine k times (k is small: band collisions are rare by design) —
    # the same in-order fold each time, so dropDuplicates on the pair
    # keeps a deterministic identical value and the result set is
    # row-for-row what the old distinct-then-verify form produced.
    sigv = sig.join(vecs.select("vec_id", "v", "norm"), "vec_id")
    x, y = sigv.alias("x"), sigv.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .withColumn(
            "cosine_raw",
            _dot_expr("x.v", "y.v") / (F.col("x.norm") * F.col("y.norm")),
        )
        .filter(F.col("cosine_raw") >= threshold)
        .select(
            F.col("x.vec_id").alias("id_a"),
            F.col("y.vec_id").alias("id_b"),
            pround("cosine_raw", 6).alias("cosine"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def embedding_near_dup_pairs_lsh(
    spark: SparkSession, sf_dir: str, threshold: float = NEAR_DUP_THRESHOLD
) -> DataFrame:
    """Bucketed-LSH twin of :func:`embedding_near_dup_pairs` — the SCALE
    path for the embedding near-dup pair contract (id_a, id_b, cosine).

    The ``minhash_lsh_pairs`` shape (dedup.py) applied to vectors:
    banded random-hyperplane signatures → equi-join candidates on
    (band, bucket) → exact cosine verify of candidates only.  Pair space
    is Σ|bucket|² per band, never n²; every stage is a shuffle-or-
    broadcast relational op, no driver collection.  The band geometry is
    derived from the corpus count (see the SCALE GEOMETRY note above),
    so the collision volume stays data-proportional at any n.
    Deterministic planes (:func:`_hyperplane`) make even the bucketing
    oracle-exact in DuckDB — missed pairs are missed identically in both
    engines, so the gate hash-matches despite the algorithm being
    approximate by design.
    """
    n = table_rows(sf_dir, "embeddings")
    return _near_dup_pairs_lsh_from(
        _vectors(spark, sf_dir), threshold, near_dup_geometry(n)
    )


# Closed form of _hyperplane's LCG for the SQL mirror:
# x_k = (A_k * x0 + C_k) mod 2^31 with A_k = a^k mod 2^31 and
# C_k = c * (a^0 + ... + a^(k-1)) mod 2^31 — one (k, A_k, C_k) literal
# row per embedding dimension, so DuckDB reproduces every plane value
# for ANY plane index with two integer mults and a mod (verified
# element-exact against _hyperplane in tests/test_northstar.py).
_LCG_A, _LCG_C, _LCG_M = 1103515245, 12345, 1 << 31
_LCG_CLOSED: list[tuple[int, int, int]] = []
_lcg_ak, _lcg_sk = 1, 0
for _lcg_k in range(1, EMBEDDING_DIM + 1):
    _lcg_sk = (_lcg_sk + _lcg_ak) % _LCG_M
    _lcg_ak = (_lcg_ak * _LCG_A) % _LCG_M
    _LCG_CLOSED.append((_lcg_k, _lcg_ak, (_LCG_C * _lcg_sk) % _LCG_M))

_LCG_VALUES_SQL = ", ".join(f"({k}, {a}, {c})" for k, a, c in _LCG_CLOSED)
_NEAR_DUP_B_CASE_SQL = " ".join(
    f"WHEN {r} THEN {b}" for r, b in sorted(NEAR_DUP_B_TABLE.items())
)


def _near_dup_geom_sql(count_source: str) -> str:
    """One-row (r, b) relation: the SQL twin of near_dup_geometry —
    integer-exact (length(bin(x))-1 = floor(log2 x); B via the literal
    CASE table)."""
    return f"""
  SELECT r, CASE r {_NEAR_DUP_B_CASE_SQL} END AS b
  FROM (
    SELECT LEAST({NEAR_DUP_R_MAX}, GREATEST({NEAR_DUP_R_MIN},
             LENGTH(BIN(GREATEST(n // {NEAR_DUP_TARGET_BUCKET_IDS}, 1))) - 1)) AS r
    FROM (SELECT COUNT(*) AS n FROM {count_source})
  )"""


def _near_dup_pairs_lsh_sql(
    source: str = "embeddings", count_source: str | None = None
) -> str:
    """The LSH pair query as DuckDB SQL over ``source``; the band
    geometry derives from ``count_source`` (defaults to ``source``) —
    the recall eval passes the FULL table there while sourcing vectors
    from its sample, mirroring the Spark side's full-corpus-derived
    geometry."""
    return f"""
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS norm
  FROM {source}
),
geom AS ({_near_dup_geom_sql(count_source or source)}),
lcg(k, a_k, c_k) AS (VALUES {_LCG_VALUES_SQL}),
planes AS (
  SELECT band, bit, LIST(val ORDER BY k) AS p
  FROM (
    SELECT tb.range AS band, tr.range AS bit, lcg.k,
           (((((({_NEAR_DUP_PLANE_BASE} + tb.range * g.r + tr.range)
                 * 2654435761 + 987654321) % 4294967296)
              * lcg.a_k + lcg.c_k) % 2147483648)
            / 2147483647.0) * 2.0 - 1.0 AS val
    FROM range({NEAR_DUP_B_MAX}) tb,
         range({NEAR_DUP_R_MAX}) tr, lcg, geom g
    WHERE tb.range < g.b AND tr.range < g.r
  )
  GROUP BY band, bit
),
sig AS (
  SELECT vec_id, band,
         CAST(SUM(CASE WHEN list_dot_product(v, p) > 0
                       THEN (1 << bit) ELSE 0 END) AS INT) AS bucket
  FROM vecs CROSS JOIN planes
  GROUP BY vec_id, band
),
cand AS (
  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
  FROM sig x JOIN sig y
    ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id
)
SELECT c.id_a, c.id_b,
       ROUND(list_dot_product(a.v, b.v) / (a.norm * b.norm), 6) AS cosine
FROM cand c
JOIN vecs a ON c.id_a = a.vec_id
JOIN vecs b ON c.id_b = b.vec_id
WHERE list_dot_product(a.v, b.v) / (a.norm * b.norm) >= {NEAR_DUP_THRESHOLD}
"""


EMBEDDING_NEAR_DUP_PAIRS_LSH_SQL = _near_dup_pairs_lsh_sql()


# Cap on the recall eval's sample: both pair paths run on at most this
# many vectors (deterministic vec_id modulus — mirrored in the oracle).
# Sized so the eval's EXACT anchor (sample²/2 cosine pairs ≈ 8M at the
# cap) is genuinely fixed-cost: the r5 probe caught the previous 20k cap
# admitting the whole 20k-vector sf1 corpus — a 200M-pair anchor, 156 s.
# 4k vectors still certify pair-level recall (hyperplane collision
# probability depends only on a pair's angle, so a uniform slice's
# recall estimates corpus recall) on thousands of true pairs.
RECALL_EVAL_MAX_VECS = 4000


def embedding_near_dup_recall_lsh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pair-level recall of the LSH near-dup path against the exact
    all-pairs anchor — the same monitored-recall story ``ann_recall_eval``
    gives retrieval, for dedup.  One row: true pair count, found count,
    recall.  Both inputs are deterministic, so the recall number itself
    is oracle-exact.

    Scale note: the ANCHOR side is quadratic, so the eval runs BOTH paths
    on a deterministic modulus sample capped at RECALL_EVAL_MAX_VECS
    vectors (vec_id % ceil(n / cap) == 0 —
    engine-portable, identical in the DuckDB mirror).  Below the cap the
    sample is the whole corpus (the gate SFs are unchanged); above it the
    eval certifies the LSH parameters on a fixed-cost slice instead of
    dying on the anchor's guard — recall on a uniform slice estimates
    corpus recall because hyperplane collision probability depends only
    on the pair's angle.
    """
    n_vecs = table_rows(sf_dir, "embeddings")
    step = max(1, -(-n_vecs // RECALL_EVAL_MAX_VECS))  # ceil div
    vecs = _vectors(spark, sf_dir).filter(
        F.col("vec_id") % F.lit(step) == 0
    )
    true_pairs = _near_dup_pairs_exact_from(
        vecs, NEAR_DUP_THRESHOLD
    ).select("id_a", "id_b")
    # Geometry from the FULL corpus count, not the sample's: the eval
    # certifies the (R, B) the production pair run actually uses —
    # pair-level recall depends only on (R, B) and the pair's angle, so
    # measuring it on the sample is unbiased.
    found = _near_dup_pairs_lsh_from(
        vecs, NEAR_DUP_THRESHOLD, near_dup_geometry(n_vecs)
    ).select("id_a", "id_b", F.lit(1).alias("_hit"))
    return (
        true_pairs.join(F.broadcast(found), ["id_a", "id_b"], "left")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.count("_hit").alias("n_found"),
        )
        .select(
            "n_true",
            "n_found",
            F.when(
                F.col("n_true") > 0,
                pround(
                    F.col("n_found").cast("double") / F.col("n_true"), 6
                ),
            ).alias("recall"),
        )
    )


# Both legs run over the SAME deterministic modulus sample the Spark
# eval applies (a no-op until the corpus exceeds RECALL_EVAL_MAX_VECS).
_RECALL_SAMPLED_EMBEDDINGS = f"""(
  SELECT * FROM embeddings
  WHERE vec_id % GREATEST(1, CAST(CEIL(
          CAST((SELECT COUNT(*) FROM embeddings) AS DOUBLE)
          / {RECALL_EVAL_MAX_VECS}) AS BIGINT)) = 0
) AS embeddings"""

EMBEDDING_NEAR_DUP_RECALL_LSH_SQL = f"""
WITH anchor AS ({EMBEDDING_NEAR_DUP_PAIRS_SQL.replace("FROM embeddings", "FROM " + _RECALL_SAMPLED_EMBEDDINGS)}),
lsh AS ({_near_dup_pairs_lsh_sql(source=_RECALL_SAMPLED_EMBEDDINGS, count_source="embeddings")}),
joined AS (
  SELECT a.id_a, a.id_b, l.id_a AS hit
  FROM anchor a LEFT JOIN lsh l ON a.id_a = l.id_a AND a.id_b = l.id_b
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
       CAST(COUNT(hit) AS BIGINT) AS n_found,
       CASE WHEN COUNT(*) > 0
            THEN ROUND(CAST(COUNT(hit) AS DOUBLE) / COUNT(*), 6) END AS recall
FROM joined
"""


def ann_bruteforce_topk_numpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized brute-force top-k: the query block is broadcast as a
    NumPy matrix and each corpus partition computes a block matmul inside
    ``mapInPandas`` — the Arrow-batched production shape for exact rerank
    (BLAS throughput instead of per-pair expressions).

    Rows-only for the driver (BLAS sum order differs from the sequential
    fold in final ulps); tests assert neighbor-set equality with the
    expression-based baseline at round-6 precision.
    """
    import numpy as np

    from collections.abc import Iterator

    import pandas as pd

    vecs = _vector_rows(read_table(spark, sf_dir, "embeddings"))
    q_rows = (
        vecs.filter(F.col("vec_id") < N_QUERY_VECS)
        .select("vec_id", "v", "norm")
        .collect()
    )  # query block: tiny by definition (it's the probe set)
    q_ids = np.array([r.vec_id for r in q_rows])
    q_mat = np.array([r.v for r in q_rows])
    q_norm = np.array([r.norm for r in q_rows])
    # (see the broadcast-lifecycle note in embedding_near_dup_pairs_numpy)
    bq = spark.sparkContext.broadcast((q_ids, q_mat, q_norm))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, mat, norms = bq.value
        for pdf in batches:
            c_mat = np.stack(pdf["v"].to_numpy())
            c_norm = pdf["norm"].to_numpy()
            sims = (c_mat @ mat.T) / np.outer(c_norm, norms)
            n_c, n_q = sims.shape
            yield pd.DataFrame(
                {
                    "q_id": np.repeat(ids[None, :], n_c, axis=0).ravel(),
                    "neighbor_id": np.repeat(
                        pdf["vec_id"].to_numpy()[:, None], n_q, axis=1
                    ).ravel(),
                    "cosine": pround_np(sims.ravel(), 6),
                }
            )

    scored = vecs.select("vec_id", "v", "norm").mapInPandas(
        score, schema="q_id long, neighbor_id long, cosine double"
    ).filter(F.col("q_id") != F.col("neighbor_id"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "neighbor_id", "cosine", "rank")
    )


def embedding_near_dup_pairs_numpy(
    spark: SparkSession, sf_dir: str, threshold: float = NEAR_DUP_THRESHOLD
) -> DataFrame:
    """Block-matmul variant of the all-pairs near-dup scan: the corpus is
    broadcast as a normalized matrix; each partition multiplies its block
    against it (BLAS) and emits only pairs ≥ threshold with id_a < id_b.

    ~10× the expression path's throughput; rows-only for the driver (BLAS
    summation order) with an equality property test against the exact
    query at round-6.  This is the single-node scale path; beyond
    broadcastable corpus sizes the LSH bucket join takes over.

    Guarded: collects + broadcasts the corpus matrix — fails loudly
    above the configured input bound (VERDICT r1 item 2)."""
    import numpy as np

    from collections.abc import Iterator

    import pandas as pd

    from retail_sales_project_bigdata_spark.operators.guards import (
        guard_anchor_rows,
    )

    vecs = _vector_rows(read_table(spark, sf_dir, "embeddings"))
    guard_anchor_rows(
        vecs,
        "embedding_near_dup_pairs_numpy",
        "embedding_near_dup_pairs_lsh (banded LSH pair join)",
        default_bound=200_000,
    )
    all_rows = vecs.select("vec_id", "v", "norm").collect()
    ids = np.array([r.vec_id for r in all_rows])
    mat = np.array([r.v for r in all_rows])
    mat = mat / np.array([r.norm for r in all_rows])[:, None]
    # Broadcast lifecycle: the Python Broadcast object is captured only
    # by the returned DataFrame's closure — when the caller releases the
    # frame, driver GC drops the last reference and Spark's
    # ContextCleaner removes the blocks from executors (weak-ref based).
    # Bounded accumulation per live result, not a permanent leak.
    bc = spark.sparkContext.broadcast((ids, mat))

    def block(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c_ids, c_mat = bc.value
        for pdf in batches:
            rows = np.stack(pdf["v"].to_numpy())
            rows = rows / pdf["norm"].to_numpy()[:, None]
            sims = rows @ c_mat.T
            my_ids = pdf["vec_id"].to_numpy()
            mask = (sims >= threshold) & (my_ids[:, None] < c_ids[None, :])
            ai, bj = np.nonzero(mask)
            yield pd.DataFrame(
                {
                    "id_a": my_ids[ai],
                    "id_b": c_ids[bj],
                    "cosine": pround_np(sims[ai, bj], 6),
                }
            )

    return vecs.select("vec_id", "v", "norm").mapInPandas(
        block, schema="id_a long, id_b long, cosine double"
    )


# Bucket expression mirror: DuckDB list_dot_product is the same
# sequential fold as _dot_expr, so even the LSH bucketing — an
# *approximate* algorithm — has an exact cross-engine oracle.
_BUCKET_SQL = " + ".join(
    f"(CASE WHEN list_dot_product(v, {_plane_sql(p)}) > 0"
    f" THEN {2 ** p} ELSE 0 END)"
    for p in range(LSH_PLANES)
)

LSH_SIGNATURES_SQL = f"""
WITH vecs AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT vec_id, label, CAST({_BUCKET_SQL} AS INT) AS bucket FROM vecs
"""

ANN_LSH_TOPK_SQL = f"""
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS norm
  FROM embeddings
),
ws AS (SELECT vec_id, v, norm, CAST({_BUCKET_SQL} AS INT) AS bucket FROM vecs),
queries AS (SELECT vec_id AS q_id, v AS q_v, norm AS q_norm, bucket AS q_bucket
            FROM ws WHERE vec_id < {N_QUERY_VECS}),
cand AS (
  SELECT q.q_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.q_v, c.v) / (q.q_norm * c.norm), 6) AS cosine
  FROM ws c JOIN queries q ON c.bucket = q.q_bucket AND c.vec_id <> q.q_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY q_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM cand
)
SELECT q_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {TOP_K}
"""


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column, one row per (label,
    dimension) — the grouped array-mean every clustering / dedup-quality
    report needs.

    posexplode flattens array<float> to (label, pos, val) — a narrow map —
    then ONE shuffle on (label, pos) aggregates each dimension.  The
    per-dimension mean uses the ordered-fold discipline
    (:func:`functions.ordered_avg`): floats cast to double, sorted, then
    left-folded, so DuckDB's ``list_aggregate(list_sort(...), 'sum')``
    adds bit-identical doubles in the same sequence regardless of Spark's
    partitioning.  At production scale the ordered fold bounds state per
    (label, dim) group — rows/labels per dimension, not the full table;
    a throughput-first variant would use plain ``avg`` and skip oracle
    exactness."""
    emb = read_table(spark, sf_dir, "embeddings", broadcast_dims=False)
    flat = emb.select(
        "label", F.posexplode("embedding").alias("pos0", "val")
    ).select(
        "label",
        (F.col("pos0") + 1).alias("pos"),  # 1-based, matches DuckDB subscripts
        F.col("val").cast("double").alias("val"),
    )
    return flat.groupBy("label", "pos").agg(
        ordered_avg("val").alias("centroid_val")
    )


EMBEDDING_CENTROIDS_SQL = f"""
SELECT label, pos, {oracle_ordered_avg('v')} AS centroid_val
FROM (
  SELECT label,
         generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
)
GROUP BY label, pos
"""


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup: cluster the embedding space, then
# near-dup ONLY within clusters — the shape that turns the O(n²) pair
# space into sum-of-squared-cluster-sizes (the entire point of
# cluster-then-dedup at 100 TB).  Fully deterministic and oracle-exact:
# pivots are the ceil(sqrt(n)) vectors with the smallest md5(vec_id)
# (engine-portable hash order, no seeded kmeans), assignment is exact
# rounded cosine with pivot-id tie-break, and the survivor rule is
# greedy-by-id: a vector is dropped iff a LOWER-id vector in its cluster
# is ≥ SEMDEDUP_COS similar.
# ---------------------------------------------------------------------------

# Pivot count scales as ceil(sqrt(n)) with a floor — the SemDeDup
# balance point: assignment work is n·k, within-cluster pair work is
# Σ|cluster|² ≈ n²/k, so k = √n makes BOTH ~n^1.5 (the fixed k=16 of
# rounds 1-3 left pair work quadratic — the 4.8x sf1-step ratio in
# SCALING.md r4).  The count() that sizes k is parquet-metadata-only.
MIN_PIVOTS = 16
SEMDEDUP_COS = 0.4  # synthetic corpus: exercises the drop path (max pair cos ~0.49)


def _num_pivots(n: int) -> int:
    import math

    return max(MIN_PIVOTS, math.isqrt(max(n, 1) - 1) + 1)


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-then-dedup over the embedding corpus (SemDeDup shape).

    Returns one row per vector: (vec_id, cluster, n_dups_below,
    is_survivor).

    Scale: pivot count is ceil(sqrt(n)) (see _num_pivots — balances
    assignment n*k against pair work n^2/k at n^1.5 each), selected as a
    tiny top-K by hash, broadcastable at any corpus size;
    assignment is corpus × broadcast-pivots — linear, map-only after the
    broadcast; the near-dup self-join is shuffled on ``(cluster, _sub)``
    where ``_sub`` cuts every cluster into rank-blocks of at most
    SEMDEDUP_CLUSTER_CAP members (see :func:`_semdedup_capped`), so each
    task owns whole BOUNDED blocks and the pair space is
    Σ|block|² <= n·CAP — linear even when the clustering is skewed.
    Pairs split across a block boundary go unscanned (conservative:
    extra survivors only).  For THIS exact twin the remaining n^1.5 term
    is the assignment cross-join itself; :func:`semantic_dedup_lsh` is
    the scale twin that linearizes it.
    """
    return _semdedup_labels(_semdedup_assigned_exact(spark, sf_dir))


def _semdedup_assigned_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact twin's assignment stage — the persisted
    (vec_id, v, norm, cluster, cos_p) frame `_semdedup_labels` consumes.
    Split out so tools/semdedup_pair_probe.py and tests can measure the
    pair stage's candidate volume without re-deriving the assignment."""
    vecs = _vectors(spark, sf_dir)
    n_vecs = table_rows(sf_dir, "embeddings")
    pivots = (
        vecs.select(
            F.col("vec_id").alias("p_id"),
            F.col("v").alias("p_v"),
            F.col("norm").alias("p_norm"),
            F.md5(F.col("vec_id").cast("string")).alias("_h"),
        )
        .orderBy(F.asc("_h"), F.asc("p_id"))
        .limit(_num_pivots(n_vecs))
        .drop("_h")
    )
    assigned = (
        vecs.crossJoin(F.broadcast(pivots))
        .withColumn(
            "cos_p",
            pround(
                _dot_expr("v", "p_v") / (F.col("norm") * F.col("p_norm")), 6
            ),
        )
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.desc("cos_p"), F.asc("p_id")
                )
            ),
        )
        .filter(F.col("_rk") == 1)
        .select(
            "vec_id", "v", "norm", F.col("p_id").alias("cluster"), "cos_p"
        )
        # the assignment (cross-join + per-vector rank, the dominant
        # stage) feeds THREE consumers (both self-join sides and the
        # final labels join) — persist so one action computes it once.
        .persist()
    )
    return assigned


# Hard per-block bound on the within-cluster pair scan (VERDICT r8 watch
# item: the LSH twin linearized ASSIGNMENT, but `_semdedup_labels`'
# cluster self-join kept the Σ|cluster|² term, which at balanced k=√n is
# n^1.5 in a dense-cluster regime).  Members of each cluster are ranked
# by (cos_p desc, vec_id) and cut into blocks of <= CAP; the pair join
# keys on (cluster, block), so pair volume is <= n·CAP/2 — LINEAR in n
# with a constant cap — and each shuffle task owns whole bounded blocks.
# Choice of ordering key: exact duplicates have IDENTICAL cos_p (it is
# pround'ed), so a duplicate group always sorts contiguous and lands in
# one block unless it is itself larger than CAP; near-duplicates have
# near-equal cos_p, so they tend to share a block too — the 1-D
# projection onto the pivot direction is the cheapest locality-preserving
# order available without new math, and it is already computed by both
# twins' assignment stages.  A pair split across a block boundary is
# simply not scanned: both sides keep their labels — CONSERVATIVE (can
# only create extra survivors, never a false drop), same direction as the
# LSH twin's missed-band singletons.  Clusters at or under the cap get
# block 0 for every member, so the semantics (and the r8 gate
# certification of `semantic_dedup`) are unchanged wherever the cap
# doesn't bind.  Cost: one rank window per self-join side, partitioned by
# cluster — the same key the pair join shuffles on; an oversized cluster
# sorts in a single task (|c|·log|c|, spillable) instead of pairing in
# n² — the production refinement past that is a range-partitioned sort,
# noted in SCALING.md.
SEMDEDUP_CLUSTER_CAP = 512


def _semdedup_capped(assigned: DataFrame) -> DataFrame:
    """Attach the block id `_sub` (rank within cluster, cut at
    SEMDEDUP_CLUSTER_CAP) — split out so tests can assert the bound."""
    return assigned.withColumn(
        "_sub",
        F.floor(
            (
                F.row_number().over(
                    Window.partitionBy("cluster").orderBy(
                        F.desc("cos_p"), F.asc("vec_id")
                    )
                )
                - 1
            )
            / F.lit(SEMDEDUP_CLUSTER_CAP)
        ).cast("int"),
    )


def _semdedup_labels(assigned: DataFrame) -> DataFrame:
    """Within-cluster near-dup scan + greedy-by-id survivor labels over a
    prepared (vec_id, v, norm, cluster, cos_p) frame — ONE definition
    shared by :func:`semantic_dedup` and :func:`semantic_dedup_lsh` so
    the twins can never diverge on the dedup contract (pair threshold,
    rounding, survivor rule, cluster-size cap).  The pair space is
    Σ|block|² <= n·SEMDEDUP_CLUSTER_CAP, never n² (see the cap note
    above)."""
    capped = _semdedup_capped(assigned)
    a = capped.select(
        "cluster",
        "_sub",
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("v_a"),
        F.col("norm").alias("norm_a"),
    )
    b = capped.select(
        "cluster",
        "_sub",
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("v_b"),
        F.col("norm").alias("norm_b"),
    )
    dup_pairs = (
        a.join(b, ["cluster", "_sub"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos_ab",
            pround(
                _dot_expr("v_a", "v_b") / (F.col("norm_a") * F.col("norm_b")),
                6,
            ),
        )
        .filter(F.col("cos_ab") >= SEMDEDUP_COS)
    )
    dups_below = dup_pairs.groupBy(F.col("id_b").alias("vec_id")).agg(
        F.count(F.lit(1)).alias("n_dups_below")
    )
    return (
        assigned.join(dups_below, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.coalesce(F.col("n_dups_below"), F.lit(0)).alias("n_dups_below"),
            (F.coalesce(F.col("n_dups_below"), F.lit(0)) == 0)
            .cast("int")
            .alias("is_survivor"),
        )
    )


SEMANTIC_DEDUP_SQL = f"""
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS norm
  FROM embeddings
),
pivots AS (
  SELECT p_id, p_v, p_norm FROM (
    SELECT vec_id AS p_id, v AS p_v, norm AS p_norm,
           ROW_NUMBER() OVER (
             ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC) AS _prk
    FROM vecs
  ) WHERE _prk <= GREATEST({MIN_PIVOTS},
                           CAST(CEIL(SQRT((SELECT COUNT(*) FROM vecs))) AS BIGINT))
),
assigned AS (
  SELECT vec_id, v, norm, p_id AS cluster, cos_p
  FROM (
    SELECT c.vec_id, c.v, c.norm, p.p_id,
           ROUND(list_dot_product(c.v, p.p_v) / (c.norm * p.p_norm), 6) AS cos_p,
           ROW_NUMBER() OVER (
             PARTITION BY c.vec_id
             ORDER BY ROUND(list_dot_product(c.v, p.p_v) / (c.norm * p.p_norm), 6) DESC,
                      p.p_id ASC) AS _rk
    FROM vecs c CROSS JOIN pivots p
  ) WHERE _rk = 1
),
-- cluster-size cap mirror (_semdedup_capped): rank within cluster by
-- (cos_p desc, vec_id), cut into blocks of {SEMDEDUP_CLUSTER_CAP}; the
-- pair scan keys on (cluster, _sub) so pair volume is linear in n
capped AS (
  SELECT *, CAST(FLOOR((ROW_NUMBER() OVER (
           PARTITION BY cluster ORDER BY cos_p DESC, vec_id ASC) - 1)
           / {SEMDEDUP_CLUSTER_CAP}) AS INT) AS _sub
  FROM assigned
),
dup_pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM capped a JOIN capped b
    ON a.cluster = b.cluster AND a._sub = b._sub AND a.vec_id < b.vec_id
  WHERE ROUND(list_dot_product(a.v, b.v) / (a.norm * b.norm), 6) >= {SEMDEDUP_COS}
),
dups_below AS (
  SELECT id_b AS vec_id, CAST(COUNT(*) AS BIGINT) AS n_dups_below
  FROM dup_pairs GROUP BY id_b
)
SELECT s.vec_id, s.cluster,
       COALESCE(d.n_dups_below, 0) AS n_dups_below,
       CAST(COALESCE(d.n_dups_below, 0) = 0 AS INT) AS is_survivor
FROM assigned s LEFT JOIN dups_below d ON s.vec_id = d.vec_id
"""


# Hyperplane indices for the semantic-dedup assignment bands: disjoint
# from ann_lsh (0..3) and the near-dup bands, which occupy
# [_NEAR_DUP_PLANE_BASE, _NEAR_DUP_PLANE_BASE + B*R - 1] and at the
# geometry table's ceiling (B=64, R=19 — corpora >= ~1M vectors) reach
# index 1315.  The old base of 1000 overlapped that range at exactly the
# scales the LSH path targets (ADVICE r8): reusing a hyperplane across
# the two operators correlates their bucketings.  Base 2000 clears the
# ceiling with slack; the assert makes the invariant load-bearing
# instead of a comment.
_SEMDEDUP_PLANE_BASE = 2000
SEMDEDUP_ASSIGN_BANDS = 8
assert _SEMDEDUP_PLANE_BASE > _NEAR_DUP_PLANE_BASE + (
    NEAR_DUP_B_MAX * NEAR_DUP_R_MAX
), "semantic-dedup hyperplane range overlaps the near-dup band planes"


def _semdedup_assign_geometry(k_pivots: int) -> tuple[int, int]:
    """(planes-per-band R, bands B) for bucket-restricted pivot
    assignment.  R grows with the pivot count so the expected pivots
    per bucket stays O(1) — 2^R ≈ k keeps per-band candidate volume at
    n·B·O(1), i.e. LINEAR per decade where brute assignment is n·k =
    n^1.5 (k = √n).  B is fixed: each extra band is an independent
    chance to see a near pivot; a vector missing ALL B bands becomes a
    singleton (conservative — it can only create survivors)."""
    r = min(24, max(4, (max(k_pivots, 2) - 1).bit_length()))
    return r, SEMDEDUP_ASSIGN_BANDS


def _semantic_dedup_lsh_from(vecs: DataFrame, n_vecs: int) -> DataFrame:
    """Bucket-assigned semantic dedup over a prepared (vec_id, v, norm)
    frame — split out so property tests can drive it with crafted
    duplicate clusters (same pattern as _near_dup_pairs_lsh_from)."""
    return _semdedup_labels(_semdedup_assigned_lsh_from(vecs, n_vecs))


def _semdedup_assigned_lsh_from(vecs: DataFrame, n_vecs: int) -> DataFrame:
    """The LSH twin's bucket-restricted assignment stage — persisted
    (vec_id, v, norm, cluster, cos_p) frame for `_semdedup_labels`.
    Split out for tools/semdedup_pair_probe.py (pair-stage candidate
    volume per decade) and tests."""
    spark = vecs.sparkSession
    k = _num_pivots(n_vecs)
    r_planes, bands = _semdedup_assign_geometry(k)
    pivots = (
        vecs.select(
            F.col("vec_id").alias("p_id"),
            F.col("v").alias("p_v"),
            F.col("norm").alias("p_norm"),
            F.md5(F.col("vec_id").cast("string")).alias("_h"),
        )
        .orderBy(F.asc("_h"), F.asc("p_id"))
        .limit(k)
        .drop("_h")
    )
    # Planes as broadcast DATA (see _near_dup_pairs_lsh_from: inlined
    # plane literals blow up janino analysis time).
    planes = spark.createDataFrame(
        [
            (
                b,
                r,
                _hyperplane(
                    EMBEDDING_DIM,
                    _SEMDEDUP_PLANE_BASE + b * r_planes + r,
                ),
            )
            for b in range(bands)
            for r in range(r_planes)
        ],
        "band int, bit int, p array<double>",
    )

    def _sig(frame: DataFrame, id_col: str) -> DataFrame:
        return (
            frame.select(F.col(id_col), "v")
            .join(F.broadcast(planes))
            .groupBy(id_col, "band")
            .agg(
                F.sum(
                    F.when(
                        _dot_expr("v", "p") > 0,
                        F.expr("shiftleft(1, bit)"),
                    ).otherwise(0)
                )
                .cast("int")
                .alias("bucket")
            )
        )

    sig_p = _sig(
        pivots.select(F.col("p_id"), F.col("p_v").alias("v")), "p_id"
    )
    # candidate (vector, pivot) pairs: narrow id frames only — the
    # bucket join never carries vectors, so its volume is the candidate
    # count itself (~n·B·O(1) by the geometry above)
    cand = (
        _sig(vecs, "vec_id")
        .join(F.broadcast(sig_p), ["band", "bucket"])
        .select("vec_id", "p_id")
        .distinct()
    )
    scored = (
        cand.join(vecs.select("vec_id", "v", "norm"), "vec_id")
        .join(F.broadcast(pivots), "p_id")
        .withColumn(
            "cos_p",
            pround(
                _dot_expr("v", "p_v") / (F.col("norm") * F.col("p_norm")), 6
            ),
        )
    )
    best = (
        scored.withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.desc("cos_p"), F.asc("p_id")
                )
            ),
        )
        .filter(F.col("_rk") == 1)
        .select("vec_id", F.col("p_id").alias("cluster"), "cos_p")
    )
    assigned = (
        vecs.select("vec_id", "v", "norm")
        .join(best, "vec_id", "left")
        # no candidate pivot in any band -> singleton cluster under the
        # vector's own id (conservative: singletons only ever survive;
        # id spaces cannot collide — a pivot always shares every band
        # bucket with itself, so pivot ids never take the fallback).
        # The fallback cos_p is the vector's cosine to itself (1.0) —
        # only the cap's within-cluster ORDER reads it, and a singleton
        # block is trivially ordered.
        .withColumn("cluster", F.coalesce(F.col("cluster"), F.col("vec_id")))
        .withColumn("cos_p", F.coalesce(F.col("cos_p"), F.lit(1.0)))
        .persist()  # three consumers, same as semantic_dedup
    )
    return assigned


def semantic_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-assigned twin of :func:`semantic_dedup` — the 100× SCALE
    path for the cluster-then-dedup contract (vec_id, cluster,
    n_dups_below, is_survivor).

    Why it exists: exact SemDeDup assignment is corpus × pivots = n·k,
    and with the balanced k = √n that is n^1.5 — measured 35.6×/decade
    at the sf10 step (theoretical 10^1.5 = 31.6×; SCALING.md round-8
    section).  Real SemDeDup deployments assign via an ANN index for
    exactly this reason.  Here the assignment is restricted to pivots
    sharing a banded hyperplane-LSH bucket with the vector
    (:func:`_semdedup_assign_geometry`: 2^R ≈ k pivots/bucket O(1), B
    fixed bands → candidate volume n·B·O(1), linear per decade); the
    within-cluster near-dup scan and survivor rule are the SAME code as
    the exact operator (:func:`_semdedup_labels`).  A vector whose
    bands match no pivot becomes a singleton — conservative, it can
    only add survivors, never a false drop.

    Rows-only for the driver (assignment is approximate by design — a
    missed band changes the clustering); property tests assert the
    shared contract invariants and that crafted duplicate groups dedup.
    """
    vecs = _vectors(spark, sf_dir)
    n = table_rows(sf_dir, "embeddings")
    return _semantic_dedup_lsh_from(vecs, n)


MMR_POOL = 30  # relevance-ranked candidate pool per query
MMR_K = 10  # diversified result size
MMR_LAMBDA = 0.7  # relevance vs diversity trade-off


def ann_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified retrieval: exact top-{MMR_POOL} cosine candidates
    per query (the ``ann_bruteforce_topk`` shape), then Maximal Marginal
    Relevance rerank to {MMR_K}::

        mmr(c) = λ·sim(q, c) − (1−λ)·max_{s∈selected} sim(c, s)

    — the standard diversification every retrieval-augmented pipeline
    runs so the k results aren't k near-copies of the same document.

    Spark shape: candidate generation is fully relational (broadcast
    queries × corpus, per-query partial top-k).  The greedy rerank is
    inherently sequential in k, so it runs in ``applyInPandas`` per
    query group — ≤{MMR_POOL} rows and a {MMR_POOL}×{MMR_POOL} sim
    matrix per group, numpy 1-D dots (deterministic pairwise summation,
    mirrored exactly by the test reference).  Rows-only in the driver
    gate (greedy iteration is not SQL-expressible); value-checked in
    tests against a pure-Python MMR on the engine's own candidate pool.

    Scale: groups are query-keyed (thousands of concurrent queries
    spread over partitions); per-group state is pool-bounded, so the
    Python stage is O(|queries| · pool²·dim) flops with no shuffle
    amplification.  First pick is always the relevance argmax; ties
    break on candidate id (deterministic).
    """
    vecs = _vectors(spark, sf_dir)
    queries = vecs.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("q_v"),
        F.col("norm").alias("q_norm"),
    )
    corpus = vecs.select(F.col("vec_id").alias("c_id"), "v", "norm")
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("c_id") != F.col("q_id"))
        .withColumn(
            "cosine",
            _dot_expr("q_v", "v") / (F.col("q_norm") * F.col("norm")),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    pool = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= MMR_POOL)
        .select("q_id", "c_id", "v", "norm", "q_v", "q_norm")
    )

    def rerank(pdf):
        import math

        import numpy as np
        import pandas as pd

        # ALL rerank arithmetic uses math.fsum dots: exactly-rounded, so
        # the scores are bit-reproducible regardless of BLAS kernel or
        # array alignment (np.dot was observed to differ in the last ulp
        # between driver and worker for identical inputs — alignment-
        # dependent summation order).  The JVM fold cosine only selects
        # the pool; rel is re-derived here in the same discipline.
        def fdot(a, b):
            return math.fsum(x * y for x, y in zip(a, b))

        mat = [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
        norms = pdf["norm"].to_numpy()
        ids = pdf["c_id"].to_numpy()
        q_id = int(pdf["q_id"].iloc[0])
        q_v = np.asarray(pdf["q_v"].iloc[0], dtype=np.float64)
        q_norm = float(pdf["q_norm"].iloc[0])
        rel = np.array(
            [fdot(q_v, m) / (q_norm * n) for m, n in zip(mat, norms)]
        )
        order = np.lexsort((ids, -rel))  # cosine desc, then c_id asc
        ids, rel = ids[order], rel[order]
        mat = [mat[i] for i in order]
        norms = norms[order]
        n = len(ids)
        k = min(MMR_K, n)
        selected: list[int] = []
        max_sim = np.full(n, -np.inf)
        out_rows = []
        for step in range(1, k + 1):
            if not selected:
                mmr = rel.copy()
            else:
                mmr = MMR_LAMBDA * rel - (1 - MMR_LAMBDA) * max_sim
            mmr[selected] = -np.inf
            # argmax with id tie-break: numpy argmax takes the first hit
            # in (cosine desc, c_id asc) sort order only for the pure-
            # relevance step; enforce explicitly for the general case
            best = min(
                (i for i in range(n) if i not in selected),
                key=lambda i: (-mmr[i], ids[i]),
            )
            out_rows.append(
                (q_id, int(ids[best]), float(rel[best]), float(mmr[best]), step)
            )
            selected.append(best)
            sims = np.array(
                [
                    fdot(mat[best], mat[i]) / (norms[best] * norms[i])
                    for i in range(n)
                ]
            )
            max_sim = np.maximum(max_sim, sims)
        return pd.DataFrame(
            out_rows,
            columns=["q_id", "neighbor_id", "cosine", "mmr_score", "mmr_rank"],
        )

    return pool.groupBy("q_id").applyInPandas(
        rerank,
        schema=(
            "q_id long, neighbor_id long, cosine double,"
            " mmr_score double, mmr_rank int"
        ),
    )


def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@{TOP_K} of the LSH ANN path against the exact
    brute-force baseline — the evaluation every approximate-retrieval
    deployment runs before trusting the index.

    Both inputs are deterministic (fixed hyperplanes, exact rounded
    cosines, id tie-breaks), so the recall numbers are themselves exact
    and oracle-checkable — the oracle recomputes BOTH paths in DuckDB
    and intersects, proving not just "some recall number" but the same
    per-query hit sets cross-engine.

    Scale: the two inputs are top-k frames — |queries| × k rows each,
    tiny by construction no matter the corpus size — so the hit join is
    a broadcast join and the rollup a |queries|-key aggregate.  The
    expensive work (scoring) lives in the upstream operators; evaluation
    adds one cheap stage, which is why recall monitoring can run on
    every index build.  The single division per row keeps the double
    deterministic (one correctly-rounded op, then round to 6).

    Both paths read the scan unfanned: here, unlike in either top-k query
    alone, a round-robin fan-out cost more than it saved (see
    :func:`sources.fan_out`).
    """
    vecs = _vector_rows(read_table(spark, sf_dir, "embeddings"))
    exact = _bruteforce_topk_from(vecs).select("q_id", "neighbor_id")
    approx = _lsh_topk_from(vecs).select(
        "q_id", "neighbor_id", F.lit(1).alias("_hit")
    )
    return (
        exact.join(F.broadcast(approx), ["q_id", "neighbor_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("_hit").alias("n_hits"),
        )
        .select(
            "q_id",
            "n_exact",
            "n_hits",
            pround(
                F.col("n_hits").cast("double") / F.col("n_exact"), 6
            ).alias("recall"),
        )
    )


ANN_RECALL_EVAL_SQL = f"""
WITH exact_k AS (SELECT q_id, neighbor_id FROM ({ANN_BRUTEFORCE_TOPK_SQL})),
approx_k AS (SELECT q_id, neighbor_id, 1 AS _hit FROM ({ANN_LSH_TOPK_SQL}))
SELECT e.q_id,
       COUNT(*) AS n_exact,
       COUNT(a._hit) AS n_hits,
       ROUND(CAST(COUNT(a._hit) AS DOUBLE) / COUNT(*), 6) AS recall
FROM exact_k e
LEFT JOIN approx_k a ON a.q_id = e.q_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.q_id
"""


def embedding_quantize_int8_vectors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding corpus —
    the storage step a 100 TB vector store runs before ANN serving (4×
    smaller than float32, 8× smaller than float64; ADC-style scoring
    then works on the int8 codes).

    Per vector: ``scale = max(|v_i|)``; ``q_i = max(-127, floor(v_i *
    127 / scale))`` (symmetric code book — see the clamp comment below);
    plus a saturation count (elements hitting ±127) as the
    quantization-health signal.  Map-only — one narrow projection over
    the corpus scan, no shuffle, embarrassingly parallel at any scale.

    This is the TYPED library form (``quant`` is ``array<int>``, ready
    for downstream ADC scoring).  The registered gate query
    :func:`embedding_quantize_int8` serializes ``quant`` to a CSV string
    because the driver's correctness gate canonicalizes results with a
    pandas sort, which cannot order list cells (round-6 red row) — the
    repo convention is that gate-facing outputs carry scalar columns
    only (asserted for every registry name by
    ``tests/test_oracle_parity.py::test_query_runs``).

    Oracle exactness: every per-element step is a single exactly-rounded
    IEEE double op (cast, multiply, divide, floor) evaluated in the same
    order by Spark and DuckDB, so the int codes match bit-for-bit —
    unlike summation-order-dependent dot products, no fold is involved.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    v = F.expr("transform(embedding, x -> cast(x as double))")
    base = emb.select("vec_id", v.alias("v"))
    scaled = base.withColumn(
        "scale", F.expr("array_max(transform(v, x -> abs(x)))")
    )
    # greatest(-127, ...): for x = -scale the two-rounding quotient
    # fl(fl(x * 127.0) / scale) can land a hair below -127 (e.g.
    # -127.00000000000001), and floor would then emit -128 — legal int8
    # but outside the symmetric ±127 code book ADC tables assume.  The
    # clamp is one exactly-mirrored op in both engines, so oracle
    # exactness is preserved (the corpus' float32-derived embeddings
    # never trip it — 127*x is exact in 53 bits — but float64 inputs
    # would).
    #
    # NULL elements: both Spark and DuckDB ``greatest()`` SKIP null
    # arguments, so a NULL embedding element quantizes to -127 rather
    # than propagating NULL (ADVICE r7).  This is intentional for the
    # gate form: a NULL inside ``quant`` would be silently dropped by
    # ``array_join`` in Spark but not by DuckDB's ``array_to_string``,
    # desynchronizing ``quant_csv`` — the deterministic -127 sentinel
    # keeps both serializations identical.  The corpus schema declares
    # non-null elements; callers quantizing nullable float64 vectors
    # should null-filter upstream (a NULL element means a broken
    # embedding, not a value to encode).
    quantized = scaled.withColumn(
        "quant",
        F.expr(
            "CASE WHEN scale = 0 THEN transform(v, x -> 0)"
            " ELSE transform(v, x -> greatest(-127,"
            " cast(floor(x * 127.0 / scale) as int)))"
            " END"
        ),
    )
    return quantized.select(
        "vec_id",
        "scale",
        "quant",
        F.expr(
            "cast(aggregate(quant, 0,"
            " (acc, y) -> acc + CASE WHEN abs(y) >= 127 THEN 1 ELSE 0 END)"
            " as bigint)"
        ).alias("n_sat"),
    )


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate-facing projection of
    :func:`embedding_quantize_int8_vectors`: identical computation, but
    the int8 code vector is emitted as a deterministic CSV string
    (``quant_csv``) so the driver's pandas-based canonicalizer can sort
    the result (list cells are unhashable there — the round-6
    ``embedding_quantize_int8`` red row).  Integers render identically
    in Spark and DuckDB ("-5", never "−5.0"), so the serialization is
    exact; embeddings are fixed-dimension so the empty-array edge (Spark
    ``''`` vs DuckDB ``NULL``) cannot arise.  Still map-only: the
    ``array_join`` is one more codegen'd projection, no shuffle.
    """
    return embedding_quantize_int8_vectors(spark, sf_dir).select(
        "vec_id",
        "scale",
        F.expr(
            "array_join(transform(quant, x -> cast(x as string)), ',')"
        ).alias("quant_csv"),
        "n_sat",
    )


EMBEDDING_QUANTIZE_INT8_SQL = """
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), scaled AS (
  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS scale
  FROM base
), quantized AS (
  SELECT vec_id, scale,
         CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
              ELSE list_transform(v, x -> greatest(-127,
                   CAST(floor(x * 127.0 / scale) AS INT)))
         END AS quant
  FROM scaled
)
SELECT vec_id, scale,
       array_to_string(quant, ',') AS quant_csv,
       CAST(list_sum(list_transform(quant,
            y -> CASE WHEN abs(y) >= 127 THEN 1 ELSE 0 END)) AS BIGINT) AS n_sat
FROM quantized
"""


ORACLES: dict[str, str] = {
    "embedding_quantize_int8": EMBEDDING_QUANTIZE_INT8_SQL,
    "ann_recall_eval": ANN_RECALL_EVAL_SQL,
    "semantic_dedup": SEMANTIC_DEDUP_SQL,
    "embedding_centroids": EMBEDDING_CENTROIDS_SQL,
    "ann_bruteforce_topk": ANN_BRUTEFORCE_TOPK_SQL,
    "embedding_near_dup_pairs": EMBEDDING_NEAR_DUP_PAIRS_SQL,
    "embedding_near_dup_pairs_lsh": EMBEDDING_NEAR_DUP_PAIRS_LSH_SQL,
    "embedding_near_dup_recall_lsh": EMBEDDING_NEAR_DUP_RECALL_LSH_SQL,
    "lsh_signatures": LSH_SIGNATURES_SQL,
    "ann_lsh_topk": ANN_LSH_TOPK_SQL,
    # ann_ivf_topk: rows-only (quantizer centroids are computed at run
    # time from a corpus sample — not expressible as a static SQL string);
    # numpy variants: rows-only (BLAS summation order)
}

QUERIES = {
    "embedding_quantize_int8": embedding_quantize_int8,
    "ann_recall_eval": ann_recall_eval,
    "ann_mmr_topk": ann_mmr_topk,
    "semantic_dedup": semantic_dedup,
    "semantic_dedup_lsh": semantic_dedup_lsh,
    "ann_pq_topk": ann_pq_topk,
    "ann_ivfpq_topk": ann_ivfpq_topk,
    "embedding_centroids": embedding_centroids,
    "ann_bruteforce_topk": ann_bruteforce_topk,
    "ann_bruteforce_topk_numpy": ann_bruteforce_topk_numpy,
    "embedding_near_dup_pairs_numpy": embedding_near_dup_pairs_numpy,
    "ann_ivf_topk": ann_ivf_topk,
    "lsh_signatures": lsh_signatures,
    "ann_lsh_topk": ann_lsh_topk,
    "embedding_near_dup_pairs": embedding_near_dup_pairs,
    "embedding_near_dup_pairs_lsh": embedding_near_dup_pairs_lsh,
    "embedding_near_dup_recall_lsh": embedding_near_dup_recall_lsh,
}
