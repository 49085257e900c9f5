"""Deduplication operators over ``documents`` (north-star training-data ops).

Four families, all DataFrame-native:

- **Exact**: hash-groupBy on ``md5(text)`` — grouping on the fixed-width
  hash instead of the full text keeps the shuffle narrow at 100 TB.
- **N-gram Jaccard**: word-3-gram shingles → explode → shingle-equi-join →
  ``common / (|A| + |B| - common)`` — the exact pairwise measure.
- **MinHash + LSH**: md5-based minhash signatures (16 hashes), banded into
  4 buckets of 4 → candidate pairs from band-bucket joins → exact-Jaccard
  verification of candidates only.  md5 makes the signatures
  engine-portable, so even the LSH pipeline has an exact DuckDB oracle.
- **SimHash**: 32-bit signature from per-token md5 bits, bucketed by
  the top bits — the scale path for near-dup at lower precision.  Also
  oracle-exact: the bit sums are mirrored column-per-bit in SQL.

Scale notes: the shingle join's fan-out is bounded by shingle frequency —
a stopword-only shingle would explode, so shingles are distinct-per-doc
and the pair aggregation happens before the quadratic term materializes
(the groupBy on (d1, d2) is the only wide op).  LSH replaces the all-pairs
shingle join with per-bucket joins — at 100 TB you run LSH and only
verify candidates; the exact query exists as the correctness anchor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from retail_sales_project_bigdata_spark.functions import pround
from retail_sales_project_bigdata_spark.sources import fan_out, read_table

JACCARD_THRESHOLD = 0.5
SHINGLE_K = 3
MINHASH_N = 16  # 16 hash functions
LSH_BANDS = 4  # 4 bands × 4 rows
LSH_ROWS = MINHASH_N // LSH_BANDS

_TOKENIZE = r"[ ]+"


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy (keep min doc_id per text-hash)."""
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("text_hash", F.md5(F.col("text").cast("binary")))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_hash,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


def _shingle_expr(toks_col: str = "toks") -> F.Column:
    """Distinct word-``SHINGLE_K``-gram shingle array for a tokenized
    column — shared by :func:`_shingles` and the streaming near-dup twin
    so a change to ``SHINGLE_K`` can never desynchronize them."""
    parts = ", ".join(f"{toks_col}[i+{j}]" for j in range(SHINGLE_K))
    return F.array_distinct(
        F.expr(
            f"transform(sequence(0, size({toks_col}) - {SHINGLE_K}),"
            f" i -> concat_ws(' ', {parts}))"
        )
    )


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingles) distinct word-3-gram shingle arrays, persisted.

    Persisted (MEMORY_AND_DISK) for two reasons, both visible in
    ``.explain`` without it:

    - Every dedup query consumes the shingle frame at least twice (both
      sides of a self-join, or signatures + verification); without a
      cache boundary Catalyst re-runs the full scan→shingle pipeline per
      consumer.
    - The shingle expression is a higher-order ``transform`` — Catalyst's
      constraint inference (isnotnull on join inputs) clones it into
      interpreted per-row Filters that predicate pushdown moves below the
      fan-out repartition, i.e. onto the scan's single partition.  The
      cache boundary stops that: outer filters evaluate against the
      materialized column instead of the expression.

    At 100 TB the same persist holds as MEMORY_AND_DISK spill — the
    shingle frame is ~2× the text column; recomputing it per consumer
    costs more than spilling it.  Spark's CacheManager dedupes repeated
    persist() calls on an identical plan, so callers share one entry.
    """
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    return (
        docs.select(
            "doc_id", F.split(F.lower(F.col("text")), _TOKENIZE).alias("toks")
        )
        .filter(F.size("toks") >= SHINGLE_K)
        .select("doc_id", _shingle_expr("toks").alias("shingles"))
        .persist()
    )


_SHINGLES_CTE = f"""
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
             generate_series(1, len(t) - {SHINGLE_K - 1}),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '[ ]+') AS t
        FROM documents)
  WHERE len(t) >= {SHINGLE_K}
)"""


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs n-gram Jaccard near-dup detection (threshold 0.5).

    Physical shape: each exploded (doc, shingle) row CARRIES the doc's
    shingle count, so the pair aggregation recovers both set sizes with
    ``min`` (constant per doc) and no post-join against a sizes frame is
    needed — one equi-join + one aggregation total.  The join condition
    also applies the exact size-ratio bound (J ≥ t ⇒ |larger| ≤
    |smaller|/t, since J ≤ min/max): provably lossless pruning that cuts
    the quadratic pair fan-out before it is materialized — the lever
    that matters at 100 TB where per-shingle posting lists are long.

    Guarded: this is the exact ANCHOR for minhash_lsh_pairs — above the
    configured input bound it fails loudly instead of materializing a
    quadratic pair space (VERDICT r1 item 2).
    """
    from retail_sales_project_bigdata_spark.operators.guards import (
        guard_anchor_rows,
    )

    sh = _shingles(spark, sf_dir)
    guard_anchor_rows(
        sh, "ngram_jaccard_pairs", "minhash_lsh_pairs (bucketed LSH)"
    )
    ex = sh.select(
        "doc_id",
        F.size("shingles").alias("n"),
        F.explode("shingles").alias("s"),
    )
    a = ex.alias("a")
    b = ex.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.n") * F.lit(JACCARD_THRESHOLD) <= F.col("b.n"))
            & (F.col("b.n") * F.lit(JACCARD_THRESHOLD) <= F.col("a.n")),
        )
        .groupBy(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.min("a.n").alias("na"),
            F.min("b.n").alias("nb"),
        )
    )
    return (
        common.withColumn(
            "jaccard_raw",
            F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")),
        )
        .filter(F.col("jaccard_raw") >= JACCARD_THRESHOLD)
        .select(
            "d1", "d2", "n_common", pround("jaccard_raw", 6).alias("jaccard")
        )
    )


NGRAM_JACCARD_PAIRS_SQL = f"""
WITH {_SHINGLES_CTE},
sizes AS (SELECT doc_id, len(shingles) AS n_shingles FROM sh),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
common AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT d1, d2, n_common,
       ROUND(CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON d1 = sa.doc_id
JOIN sizes sb ON d2 = sb.doc_id
WHERE CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common) >= {JACCARD_THRESHOLD}
"""


#: Required-overlap ratio: J >= t  <=>  |A∩B| >= t/(1+t) * (|A|+|B|).
_PF_ALPHA_RATIO = JACCARD_THRESHOLD / (1.0 + JACCARD_THRESHOLD)
#: Subtracted inside every ceil/size bound before comparing: float
#: under-approximation can only SHRINK a required bound, which weakens a
#: lossless filter (extra candidates die in exact verification) — while
#: an over-approximated ceil would silently DROP true pairs.
_PF_EPS = 1e-9


def _prefix_index(sh: DataFrame) -> DataFrame:
    """The AllPairs/PPJoin prefix index shared by the symmetric
    (`ngram_jaccard_pairs_prefix`) and asymmetric
    (`incremental_near_dup_new_docs`) joins — ONE definition so the
    global order and the prefix-length bound can never silently diverge
    between them (the desync `_shingle_expr` was factored out to
    prevent).  Per doc: rank shingles under the GLOBAL total order
    (ascending document frequency, md5 tie-break — rarest first), keep
    the prefix of length n - ceil(t*n) + 1.  Columns: (doc_id, n, s, rk).
    """
    from pyspark.sql.window import Window

    ex = sh.select(
        "doc_id",
        F.size("shingles").alias("n"),
        F.explode("shingles").alias("s"),
    )
    freq = ex.groupBy("s").agg(F.count(F.lit(1)).alias("c"))
    # Per-doc frames are doc-sized (bounded by text length), so a plain
    # doc_id-partitioned window is skew-safe at any corpus size.
    ordered = ex.join(freq, "s").withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(
                "c", F.md5(F.col("s").cast("binary"))
            )
        ),
    )
    prefix_len = (
        F.col("n")
        - F.ceil(F.lit(JACCARD_THRESHOLD) * F.col("n") - F.lit(_PF_EPS))
        + F.lit(1)
    )
    return ordered.filter(F.col("rk") <= prefix_len).select(
        "doc_id", "n", "s", "rk"
    )


def _pf_pair_cond():
    """The prefix-join condition between index aliases ``a`` and ``b``:
    equal shingle, two-sided size-ratio bound (t*na <= nb and t*nb <=
    na), and PPJoin's positional filter (a match at ranks (i, j) admits
    at most 1 + min(na-i, nb-j) later common tokens, which must reach
    the required overlap ceil(t/(1+t)*(na+nb))).  All bounds carry
    ``-_PF_EPS`` so float ceil only under-approximates — lossless."""
    alpha = F.ceil(
        F.lit(_PF_ALPHA_RATIO) * (F.col("a.n") + F.col("b.n"))
        - F.lit(_PF_EPS)
    )
    positional_ok = (
        F.lit(1)
        + F.least(
            F.col("a.n") - F.col("a.rk"), F.col("b.n") - F.col("b.rk")
        )
    ) >= alpha
    return (
        (F.col("a.s") == F.col("b.s"))
        & (
            F.lit(JACCARD_THRESHOLD) * F.col("a.n")
            <= F.col("b.n") + F.lit(_PF_EPS)
        )
        & (
            F.lit(JACCARD_THRESHOLD) * F.col("b.n")
            <= F.col("a.n") + F.lit(_PF_EPS)
        )
        & positional_ok
    )


#: DuckDB CTE fragment mirroring :func:`_prefix_index` (same order, same
#: bound) — composed into both prefix-join oracles so the SQL twins
#: share one definition exactly like the Spark side.  Expects ``sh``
#: (doc_id, shingles) in scope.
_PF_PREFIX_CTES = f"""sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
freq AS (SELECT s, COUNT(*) AS c FROM ex GROUP BY s),
ordered AS (
  SELECT e.doc_id, e.s, z.n,
         ROW_NUMBER() OVER (PARTITION BY e.doc_id
                            ORDER BY f.c, md5(e.s)) AS rk
  FROM ex e JOIN freq f USING (s) JOIN sizes z USING (doc_id)
),
pre AS (
  SELECT doc_id, n, s, rk FROM ordered
  WHERE rk <= n - CAST(CEIL({JACCARD_THRESHOLD} * n - {_PF_EPS!r}) AS INT) + 1
)"""

#: DuckDB mirror of :func:`_pf_pair_cond` between ``pre`` aliases a/b.
_PF_PAIR_COND_SQL = f"""a.s = b.s
   AND {JACCARD_THRESHOLD} * a.n <= b.n + {_PF_EPS!r}
   AND {JACCARD_THRESHOLD} * b.n <= a.n + {_PF_EPS!r}
   AND 1 + least(a.n - a.rk, b.n - b.rk)
       >= CEIL({_PF_ALPHA_RATIO!r} * (a.n + b.n) - {_PF_EPS!r})"""


def ngram_jaccard_pairs_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs (threshold JACCARD_THRESHOLD,
    0.5) via prefix filtering — the AllPairs/PPJoin candidate generation
    (Bayardo et al. WWW'07; Xiao et al. WWW'08; distributed form:
    Vernica et al. SIGMOD'10), the third candidate-generation strategy
    in this family next to the posting-list join (`ngram_jaccard_pairs`)
    and banded MinHash (`minhash_lsh_pairs`):

    - Order every shingle by a GLOBAL total order (ascending document
      frequency, md5 tie-break — rarest first, so prefixes land on the
      shortest posting lists).
    - Per doc keep only the PREFIX of its sorted shingle set: length
      n - ceil(t*n) + 1.  Lossless: for any pair with J >= t the
      smallest common shingle under the global order must sit inside
      BOTH prefixes (if it sat in a suffix, every common shingle would —
      but a suffix holds only ceil(t*n) - 1 < ceil(t*n) <= |A∩B|
      elements).
    - Join prefix-to-prefix with the size-ratio bound (t*na <= nb) AND
      PPJoin's POSITIONAL filter: a matching token at positions (i, j)
      admits at most 1 + min(na-i, nb-j) common tokens after it, so
      rows where that bound falls below the required overlap
      ceil(t/(1+t)*(na+nb)) die INSIDE the join stage, before the
      candidate distinct.  Lossless: a true pair's smallest common
      token row always satisfies the bound.  This is what defuses the
      short-doc worst case (tiny sets whose prefix spans the whole set
      and includes a frequent shingle — without the positional filter
      those would fan out quadratically and only die at verification).
    - Exactly verify the surviving candidates with `array_intersect`.

    Every bound derives from ``JACCARD_THRESHOLD`` (minus ``_PF_EPS`` so
    float ceil can only under-approximate, which keeps filters lossless);
    changing the module constant keeps prefix length, size ratio,
    positional bound, and verification consistent.

    Unlike MinHash-LSH this loses NO recall; candidate fan-out follows
    the posting lists of each doc's rarest prefix tokens plus the
    positional bound, so it has no anchor-rows guard — on a corpus
    whose near-dup OUTPUT is itself quadratic (everything similar to
    everything) no exact method is safe, and that regime belongs to
    `minhash_lsh_pairs`/`semantic_dedup`.  At 100 TB the corpus-sized
    shuffles are the frequency count and the per-doc prefix ranking
    (both on compact keys).

    Property-tested equal to `ngram_jaccard_pairs` output; the DuckDB
    oracle mirrors the whole pipeline (same order, same formulas) so
    the gate checks candidates AND verification exactly.
    """
    sh = _shingles(spark, sf_dir)
    prefix = _prefix_index(sh)
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            _pf_pair_cond() & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .distinct()
    )
    verified = (
        cand.join(
            sh.select(
                F.col("doc_id").alias("d1"), F.col("shingles").alias("sh1")
            ),
            "d1",
        )
        .join(
            sh.select(
                F.col("doc_id").alias("d2"), F.col("shingles").alias("sh2")
            ),
            "d2",
        )
        .select(
            "d1",
            "d2",
            F.size(F.array_intersect("sh1", "sh2"))
            .cast("long")
            .alias("n_common"),
            F.size("sh1").alias("na"),
            F.size("sh2").alias("nb"),
        )
        .withColumn(
            "jaccard_raw",
            F.col("n_common")
            / (F.col("na") + F.col("nb") - F.col("n_common")),
        )
        .filter(F.col("jaccard_raw") >= JACCARD_THRESHOLD)
    )
    return verified.select(
        "d1", "d2", "n_common", pround("jaccard_raw", 6).alias("jaccard")
    )


NGRAM_JACCARD_PAIRS_PREFIX_SQL = f"""
WITH {_SHINGLES_CTE},
{_PF_PREFIX_CTES},
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM pre a JOIN pre b
    ON {_PF_PAIR_COND_SQL}
   AND a.doc_id < b.doc_id
),
verified AS (
  SELECT c.d1, c.d2,
         CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT)
           AS n_common,
         len(sa.shingles) AS na, len(sb.shingles) AS nb
  FROM cand c
  JOIN sh sa ON c.d1 = sa.doc_id
  JOIN sh sb ON c.d2 = sb.doc_id
)
SELECT d1, d2, n_common,
       ROUND(CAST(n_common AS DOUBLE) / (na + nb - n_common), 6) AS jaccard
FROM verified
WHERE CAST(n_common AS DOUBLE) / (na + nb - n_common)
      >= {JACCARD_THRESHOLD}
"""


def incremental_near_dup_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup detection: classify a NEW batch of documents
    (doc_id % 5 == 0, the same simulated split as
    `incremental_dedup_new_docs`) against the already-ingested corpus by
    exact n-gram Jaccard (threshold JACCARD_THRESHOLD, 0.5) — the
    production shape for daily ingestion, where re-running the all-pairs
    join over the whole corpus per batch is unaffordable and only
    batch × corpus pairs are ever considered.

    Candidate generation is the same lossless AllPairs/PPJoin prefix
    filter as `ngram_jaccard_pairs_prefix` (global frequency order,
    per-doc prefix, size-ratio + positional bounds), made ASYMMETRIC:
    batch prefixes join corpus prefixes only, so the pair space is
    |batch| × (corpus posting lists at the batch's rare prefix tokens),
    never corpus².  One row per batch doc (that is long enough to
    shingle): ``near_dup_of_corpus`` with its match count and best
    match (highest Jaccard, smallest corpus doc_id tie-break), or
    ``novel`` with the -1/0.0 sentinels so the frame stays
    null-free for exact oracle hashing.

    Shingle document frequencies are computed over corpus + batch here;
    a production deployment maintains that table incrementally alongside
    the corpus fingerprints (any consistent global order keeps the
    prefix lemma lossless — frequency order is just the cheapest).
    In-batch duplicates are NOT reported (that is
    `incremental_dedup_new_docs`' exact-hash job); this operator answers
    "is the new doc a near-copy of anything already ingested".
    """
    from pyspark.sql.window import Window

    sh = _shingles(spark, sf_dir)
    prefix = _prefix_index(sh)
    cand = (
        prefix.filter(F.col("doc_id") % 5 == 0)
        .alias("a")
        .join(
            prefix.filter(F.col("doc_id") % 5 != 0).alias("b"),
            _pf_pair_cond(),
        )
        .select(
            F.col("a.doc_id").alias("d_new"),
            F.col("b.doc_id").alias("d_corpus"),
        )
        .distinct()
    )
    verified = (
        cand.join(
            sh.select(
                F.col("doc_id").alias("d_new"),
                F.col("shingles").alias("sh1"),
            ),
            "d_new",
        )
        .join(
            sh.select(
                F.col("doc_id").alias("d_corpus"),
                F.col("shingles").alias("sh2"),
            ),
            "d_corpus",
        )
        .select(
            "d_new",
            "d_corpus",
            F.size(F.array_intersect("sh1", "sh2"))
            .cast("long")
            .alias("n_common"),
            F.size("sh1").alias("na"),
            F.size("sh2").alias("nb"),
        )
        .withColumn(
            "jaccard_raw",
            F.col("n_common")
            / (F.col("na") + F.col("nb") - F.col("n_common")),
        )
        .filter(F.col("jaccard_raw") >= JACCARD_THRESHOLD)
    )
    w_best = Window.partitionBy("d_new").orderBy(
        F.desc("jaccard_raw"), F.asc("d_corpus")
    )
    w_all = Window.partitionBy("d_new")
    best = (
        verified.withColumn("rn", F.row_number().over(w_best))
        .withColumn("n_corpus_matches", F.count(F.lit(1)).over(w_all))
        .filter(F.col("rn") == 1)
        .select(
            F.col("d_new").alias("doc_id"),
            "n_corpus_matches",
            F.col("d_corpus").alias("best_match_doc_id"),
            pround("jaccard_raw", 6).alias("best_jaccard"),
        )
    )
    batch = sh.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    return batch.join(best, "doc_id", "left").select(
        "doc_id",
        F.when(F.col("n_corpus_matches").isNotNull(), "near_dup_of_corpus")
        .otherwise("novel")
        .alias("status"),
        F.coalesce("n_corpus_matches", F.lit(0)).alias("n_corpus_matches"),
        F.coalesce("best_match_doc_id", F.lit(-1)).alias(
            "best_match_doc_id"
        ),
        F.coalesce("best_jaccard", F.lit(0.0)).alias("best_jaccard"),
    )


INCREMENTAL_NEAR_DUP_NEW_DOCS_SQL = f"""
WITH {_SHINGLES_CTE},
{_PF_PREFIX_CTES},
cand AS (
  SELECT DISTINCT a.doc_id AS d_new, b.doc_id AS d_corpus
  FROM pre a JOIN pre b
    ON {_PF_PAIR_COND_SQL}
   AND a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
),
verified AS (
  SELECT c.d_new, c.d_corpus,
         CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT)
           AS n_common,
         len(sa.shingles) AS na, len(sb.shingles) AS nb
  FROM cand c
  JOIN sh sa ON c.d_new = sa.doc_id
  JOIN sh sb ON c.d_corpus = sb.doc_id
),
matches AS (
  SELECT d_new, d_corpus,
         CAST(n_common AS DOUBLE) / (na + nb - n_common) AS jaccard_raw
  FROM verified
  WHERE CAST(n_common AS DOUBLE) / (na + nb - n_common)
        >= {JACCARD_THRESHOLD}
),
best AS (
  SELECT d_new AS doc_id,
         COUNT(*) OVER (PARTITION BY d_new) AS n_corpus_matches,
         d_corpus AS best_match_doc_id,
         ROUND(jaccard_raw, 6) AS best_jaccard,
         ROW_NUMBER() OVER (PARTITION BY d_new
                            ORDER BY jaccard_raw DESC, d_corpus) AS rn
  FROM matches
)
SELECT s.doc_id,
       CASE WHEN b.n_corpus_matches IS NOT NULL
            THEN 'near_dup_of_corpus' ELSE 'novel' END AS status,
       COALESCE(b.n_corpus_matches, 0) AS n_corpus_matches,
       COALESCE(b.best_match_doc_id, -1) AS best_match_doc_id,
       COALESCE(b.best_jaccard, 0.0) AS best_jaccard
FROM sh s
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON s.doc_id = b.doc_id
WHERE s.doc_id % 5 = 0
"""


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures: h_j(doc) = min over shingles of md5(j | shingle).

    md5-on-string is identical in Spark and DuckDB, and lexicographic MIN
    over hex digests is a valid min-hash family — giving an LSH pipeline
    with an *exact* cross-engine oracle (engine-specific hash functions
    like xxhash64 would force a rows-only check).
    """
    ex = _shingles(spark, sf_dir).select(
        "doc_id", F.explode("shingles").alias("s")
    )
    # Two md5 evaluations per shingle, sliced into sixteen 16-bit hex
    # chunks — 8× less hashing than md5-per-hash-function at the same
    # banding quality (non-overlapping slices of independent digests).
    hashed = ex.select(
        "doc_id",
        F.md5(F.concat(F.lit("a|"), F.col("s")).cast("binary")).alias("m1"),
        F.md5(F.concat(F.lit("b|"), F.col("s")).cast("binary")).alias("m2"),
    )
    return hashed.groupBy("doc_id").agg(
        *[
            F.min(
                F.substring(
                    F.col("m1" if j < 8 else "m2"), 1 + 4 * (j % 8), 4
                )
            ).alias(f"h{j}")
            for j in range(MINHASH_N)
        ]
    )


def _minhash_sig_sql() -> str:
    aggs = ",\n         ".join(
        f"MIN(substr(m{1 if j < 8 else 2}, {1 + 4 * (j % 8)}, 4)) AS h{j}"
        for j in range(MINHASH_N)
    )
    return f"""
sigs AS (
  SELECT doc_id,
         {aggs}
  FROM (SELECT doc_id, md5('a|' || s) AS m1, md5('b|' || s) AS m2
        FROM (SELECT doc_id, unnest(shingles) AS s FROM sh))
  GROUP BY doc_id
)"""


MINHASH_SIGNATURES_SQL = f"""
WITH {_SHINGLES_CTE},
{_minhash_sig_sql()}
SELECT * FROM sigs
"""


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate generation + exact verification.

    Bands of {LSH_ROWS} signature rows hash to a bucket key; docs sharing
    any band bucket become candidates; candidates are verified with the
    exact Jaccard (computed only for candidates — the 100 TB path).
    """
    sigs = minhash_signatures(spark, sf_dir)
    band_cols = [
        F.md5(
            F.concat_ws(
                "|", *[F.col(f"h{b * LSH_ROWS + r}") for r in range(LSH_ROWS)]
            ).cast("binary")
        ).alias(f"band{b}")
        for b in range(LSH_BANDS)
    ]
    banded = sigs.select("doc_id", *band_cols)
    bands_long = banded.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"), F.col(f"band{b}").alias("band_key")
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", F.col("bk.band_id").alias("band_id"), F.col("bk.band_key").alias("band_key"))
    a = bands_long.alias("a")
    b = bands_long.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    # Exact verification computed ONLY for candidates via array
    # intersection — never the global all-pairs shingle join (which would
    # defeat LSH's purpose; ngram_jaccard_pairs exists separately as the
    # exhaustive anchor).
    sh = _shingles(spark, sf_dir)
    sa = sh.select(
        F.col("doc_id").alias("sa_id"), F.col("shingles").alias("sa_sh")
    )
    sb = sh.select(
        F.col("doc_id").alias("sb_id"), F.col("shingles").alias("sb_sh")
    )
    verified = (
        candidates.join(sa, F.col("d1") == F.col("sa_id"))
        .join(sb, F.col("d2") == F.col("sb_id"))
        .withColumn(
            "n_common", F.size(F.array_intersect(F.col("sa_sh"), F.col("sb_sh")))
        )
        .withColumn(
            "jaccard_raw",
            F.col("n_common")
            / (F.size("sa_sh") + F.size("sb_sh") - F.col("n_common")),
        )
        .filter(F.col("jaccard_raw") >= JACCARD_THRESHOLD)
    )
    return verified.select(
        "d1", "d2", pround("jaccard_raw", 6).alias("jaccard")
    )


MINHASH_LSH_PAIRS_SQL = f"""
WITH {_SHINGLES_CTE},
{_minhash_sig_sql()},
banded AS (
  SELECT doc_id,
         {", ".join(
             "md5(" + " || '|' || ".join(f"h{b * LSH_ROWS + r}" for r in range(LSH_ROWS)) + f") AS band{b}"
             for b in range(LSH_BANDS)
         )}
  FROM sigs
),
bands_long AS (
  {" UNION ALL ".join(f"SELECT doc_id, {b} AS band_id, band{b} AS band_key FROM banded" for b in range(LSH_BANDS))}
),
candidates AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands_long a JOIN bands_long b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
verified AS (
  SELECT c.d1, c.d2,
         len(list_intersect(sa.shingles, sb.shingles)) AS n_common,
         len(sa.shingles) AS na, len(sb.shingles) AS nb
  FROM candidates c
  JOIN sh sa ON c.d1 = sa.doc_id
  JOIN sh sb ON c.d2 = sb.doc_id
)
SELECT d1, d2,
       ROUND(CAST(n_common AS DOUBLE) / (na + nb - n_common), 6) AS jaccard
FROM verified
WHERE CAST(n_common AS DOUBLE) / (na + nb - n_common) >= {JACCARD_THRESHOLD}
"""


def simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash from per-token md5 nibbles (sign-sum per bit),
    bucketed by the top 16 bits.  Oracle-exact (the per-bit majority
    sums are mirrored in SQL); property tests additionally assert that
    exact-duplicate shingle sets collide and bucket sizes are sane."""
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    toks_df = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), _TOKENIZE)).alias("t")
    )
    # token hash → 32 bits via conv(md5-prefix); bit b contributes ±1
    h = F.conv(F.substring(F.md5(F.col("t").cast("binary")), 1, 8), 16, 10).cast(
        "long"
    )
    with_bits = toks_df.select("doc_id", *[
        (F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(
            f"b{b}"
        )
        for b in range(32)
    ])
    sums = with_bits.groupBy("doc_id").agg(
        *[F.sum(f"b{b}").alias(f"s{b}") for b in range(32)]
    )
    sig = sums.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"s{b}") > 0, F.lit(2 ** b)).otherwise(F.lit(0))
                for b in range(32)
            ],
            F.lit(0),
        ).cast("long").alias("simhash"),
    )
    return sig.select(
        "doc_id", "simhash", F.shiftright("simhash", 16).alias("bucket")
    )


# SimHash mirror: Spark's conv(substr(md5, 1, 8), 16, 10) == DuckDB's
# CAST('0x' || substr(md5, 1, 8) AS BIGINT); the 32-way sign-sum and bit
# assembly are generated column-per-bit — verbose but exact.
_SIMHASH_SUMS = ", ".join(
    f"SUM(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
    for b in range(32)
)
_SIMHASH_SIG = " + ".join(
    f"(CASE WHEN s{b} > 0 THEN CAST({2 ** b} AS BIGINT) ELSE 0 END)"
    for b in range(32)
)

SIMHASH_BUCKETS_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[ ]+')) AS t
  FROM documents
),
h AS (SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) AS hv FROM toks),
sums AS (SELECT doc_id, {_SIMHASH_SUMS} FROM h GROUP BY doc_id),
sig AS (SELECT doc_id, CAST({_SIMHASH_SIG} AS BIGINT) AS simhash FROM sums)
SELECT doc_id, simhash, simhash >> 16 AS bucket FROM sig
"""


def incremental_dedup_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup: classify a NEW batch of documents
    against the fingerprint table of the already-ingested corpus —
    ``novel`` (first occurrence anywhere), ``dup_in_batch`` (repeats an
    earlier new doc), or ``dup_of_corpus`` (already ingested).

    Split is simulated deterministically (doc_id % 5 == 0 is the new
    batch).  The corpus side reduces to a DISTINCT md5 fingerprint set
    before the join — at 100 TB that set (16 bytes/doc) is the only
    state the incremental pass carries; history text is never rescanned.
    One left join on the hash + one in-batch first-occurrence window.
    """
    from pyspark.sql.window import Window

    docs = fan_out(read_table(spark, sf_dir, "documents")).withColumn(
        "fp", F.md5(F.col("text").cast("binary"))
    )
    corpus_fps = (
        docs.filter(F.col("doc_id") % 5 != 0)
        .select("fp")
        .distinct()
        .withColumn("in_corpus", F.lit(1))
    )
    new_batch = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id", "fp")
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        new_batch.withColumn("rn", F.row_number().over(w))
        .join(corpus_fps, "fp", "left")
        .select(
            "doc_id",
            "fp",
            F.when(F.col("in_corpus") == 1, "dup_of_corpus")
            .when(F.col("rn") > 1, "dup_in_batch")
            .otherwise("novel")
            .alias("status"),
        )
    )


INCREMENTAL_DEDUP_NEW_DOCS_SQL = """
WITH fps AS (SELECT doc_id, md5(text) AS fp FROM documents),
corpus AS (SELECT DISTINCT fp, 1 AS in_corpus FROM fps WHERE doc_id % 5 <> 0),
new_batch AS (
  SELECT doc_id, fp,
         ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
  FROM fps WHERE doc_id % 5 = 0
)
SELECT n.doc_id, n.fp,
       CASE WHEN c.in_corpus = 1 THEN 'dup_of_corpus'
            WHEN n.rn > 1 THEN 'dup_in_batch'
            ELSE 'novel' END AS status
FROM new_batch n LEFT JOIN corpus c USING (fp)
"""


FUZZY_MAX_DISTANCE = 4


def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching (entity-resolution shape): distinct part
    names, blocked on the leading token, pairwise Levenshtein within each
    block, keep pairs within edit distance 4.

    The two scale levers every record-linkage pipeline uses, in order:
    (1) dedupe to the DISTINCT value domain first — edit distance is a
    property of the string, so at 100 TB you resolve the (much smaller)
    name domain and join resolutions back; (2) a cheap blocking key
    bounds the quadratic term to within-block pairs instead of all-pairs
    (same role as the LSH bands above, for edit distance instead of
    Jaccard).  ``levenshtein`` is JVM-side and exact in both engines, so
    the whole pipeline has a value-exact oracle.
    """
    names = (
        read_table(spark, sf_dir, "part")
        .select("p_name")
        .distinct()
        .withColumn("blk", F.split(F.col("p_name"), " ").getItem(0))
    )
    a = names.select(F.col("blk"), F.col("p_name").alias("name_a"))
    b = names.select(F.col("blk"), F.col("p_name").alias("name_b"))
    return (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("distance", F.levenshtein("name_a", "name_b"))
        .filter(F.col("distance") <= FUZZY_MAX_DISTANCE)
        .select("name_a", "name_b", "distance")
    )


FUZZY_NAME_PAIRS_SQL = f"""
WITH names AS (
  SELECT DISTINCT p_name, split_part(p_name, ' ', 1) AS blk FROM part
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS distance
FROM names a JOIN names b ON a.blk = b.blk AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DISTANCE}
"""


# ---------------------------------------------------------------------------
# Passage-level duplication (exact-substring dedup, Spark-shaped): the
# suffix-array substring dedup of Lee et al. ("Deduplicating Training
# Data Makes Language Models Better") detects VERBATIM passages shared
# across documents — a different signal from whole-doc near-dup.  The
# distributable form: fixed-width word windows (width PASSAGE_W, stride
# PASSAGE_STRIDE) → window string → count distinct docs per window →
# per-doc duplicated-window fraction.  Window extraction is a per-row
# array transform (map-only); the corpus-wide window count is ONE hash
# aggregate on the window hash — at 100 TB you aggregate 16-byte hashes,
# never the passage text.
# ---------------------------------------------------------------------------

PASSAGE_W = 8
PASSAGE_STRIDE = 4
PASSAGE_DUP_FLAG = 0.5  # flag docs with most content duplicated elsewhere


def duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document verbatim-passage duplication profile: window count,
    windows also present in ≥1 OTHER document, duplicated fraction, and
    a flag above {PASSAGE_DUP_FLAG}.

    Shape: transform+explode (narrow) → md5 per window → groupBy hash
    with a 2-doc-distinct count (partial-agg'd) → broadcast-size? no —
    the dup-window set can be corpus-sized, so it re-joins by hash
    (shuffle on a 16-byte key) and re-aggregates per doc.  Two shuffles
    total, both on compact keys.
    """
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.split(F.lower(F.col("text")), "[ ]+").alias("toks")
    )
    wins = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, greatest(size(toks) - {PASSAGE_W},"
                f" 0), {PASSAGE_STRIDE}),"
                f" i -> array_join(slice(toks, i + 1, {PASSAGE_W}), ' '))"
            )
        ).alias("passage"),
    ).select("doc_id", F.md5(F.col("passage")).alias("h"))
    # distinct (doc, window) first: a window repeated INSIDE one doc is
    # self-repetition (doc_repetition_stats' job), not cross-doc dup.
    doc_wins = wins.distinct()
    shared = (
        doc_wins.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_docs_with"))
        .filter(F.col("n_docs_with") >= 2)
    )
    per_doc = (
        doc_wins.join(shared, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.count("n_docs_with").alias("n_dup_windows"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_windows",
        "n_dup_windows",
        (
            F.col("n_dup_windows").cast("double") / F.col("n_windows")
        ).alias("dup_fraction"),
        (
            F.col("n_dup_windows").cast("double") / F.col("n_windows")
            > PASSAGE_DUP_FLAG
        )
        .cast("int")
        .alias("mostly_duplicated"),
    )


DUPLICATE_PASSAGES_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '[ ]+') AS toks
  FROM documents
),
wins AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string(toks[i + 1 : i + {PASSAGE_W}], ' ')) AS h
  FROM toks,
       unnest(range(0, greatest(len(toks) - {PASSAGE_W}, 0) + 1,
                    {PASSAGE_STRIDE})) AS t(i)
),
shared AS (
  SELECT h FROM wins GROUP BY h HAVING COUNT(*) >= 2
),
per_doc AS (
  SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
         CAST(COUNT(s.h) AS BIGINT) AS n_dup_windows
  FROM wins w LEFT JOIN shared s ON w.h = s.h
  GROUP BY w.doc_id
)
SELECT doc_id, n_windows, n_dup_windows,
       CAST(n_dup_windows AS DOUBLE) / n_windows AS dup_fraction,
       CAST(CAST(n_dup_windows AS DOUBLE) / n_windows > {PASSAGE_DUP_FLAG}
            AS INT) AS mostly_duplicated
FROM per_doc
"""


def normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-aware exact dedup: lowercase, strip non-printable
    ASCII, collapse runs of whitespace, trim — THEN hash-group.  Catches
    the trivially-reformatted duplicates (case, spacing, control chars)
    that byte-exact :func:`dedup_exact` misses; the standard first rung
    of a web-corpus dedup ladder below MinHash.

    ``n_raw_variants`` counts distinct RAW texts collapsing into each
    normalized group — groups with > 1 are the formatting-only
    duplicates this stage newly catches.

    Scale: map-only normalization fused into the scan, then ONE
    hash-groupBy on the 16-byte normalized hash (same narrow-shuffle
    argument as dedup_exact); the distinct-raw count is a second
    aggregate expression in the same shuffle, not a second pass.
    """
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^ -~]", ""),
            " +",
            " ",
        )
    )
    return (
        docs.select(
            "doc_id",
            F.md5(norm.cast("binary")).alias("norm_hash"),
            F.md5(F.col("text").cast("binary")).alias("raw_hash"),
        )
        .groupBy("norm_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("raw_hash").alias("n_raw_variants"),
        )
    )


NORMALIZED_DEDUP_SQL = """
SELECT md5(trim(regexp_replace(
           regexp_replace(lower(text), '[^ -~]', '', 'g'), ' +', ' ', 'g')))
         AS norm_hash,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_copies,
       COUNT(DISTINCT md5(text)) AS n_raw_variants
FROM documents
GROUP BY 1
"""


ORACLES: dict[str, str] = {
    "normalized_dedup": NORMALIZED_DEDUP_SQL,
    "duplicate_passages": DUPLICATE_PASSAGES_SQL,
    "fuzzy_name_pairs": FUZZY_NAME_PAIRS_SQL,
    "incremental_dedup_new_docs": INCREMENTAL_DEDUP_NEW_DOCS_SQL,
    "incremental_near_dup_new_docs": INCREMENTAL_NEAR_DUP_NEW_DOCS_SQL,
    "dedup_exact": DEDUP_EXACT_SQL,
    "ngram_jaccard_pairs": NGRAM_JACCARD_PAIRS_SQL,
    "ngram_jaccard_pairs_prefix": NGRAM_JACCARD_PAIRS_PREFIX_SQL,
    "minhash_signatures": MINHASH_SIGNATURES_SQL,
    "minhash_lsh_pairs": MINHASH_LSH_PAIRS_SQL,
    "simhash_buckets": SIMHASH_BUCKETS_SQL,
}

QUERIES = {
    "normalized_dedup": normalized_dedup,
    "duplicate_passages": duplicate_passages,
    "fuzzy_name_pairs": fuzzy_name_pairs,
    "incremental_dedup_new_docs": incremental_dedup_new_docs,
    "incremental_near_dup_new_docs": incremental_near_dup_new_docs,
    "dedup_exact": dedup_exact,
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "ngram_jaccard_pairs_prefix": ngram_jaccard_pairs_prefix,
    "minhash_signatures": minhash_signatures,
    "minhash_lsh_pairs": minhash_lsh_pairs,
    "simhash_buckets": simhash_buckets,
}
