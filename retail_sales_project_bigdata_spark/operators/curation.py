"""Corpus-curation operators round 2: targeted selection, batch
assembly, and tokenizer training over ``documents`` (north-star ops).

Three ops a production LLM-data pipeline runs after cleaning/dedup:

- **dsir_importance_weights** — DSIR-shaped (Data Selection via
  Importance Resampling) target-domain selection: score every document
  by how target-like its unigram distribution is, then keep the top-N.
  The classic estimator is ``log w(x) = Σ_tok [log p_tgt(tok) −
  log p_src(tok)]``; libm ``log`` differs across engines in final ulps
  (the tfidf/unigram_freq lesson), so this uses the engine-exact
  rational form: per-doc exact BIGINT sums of Laplace-smoothed target /
  corpus counts, combined in ONE fixed IEEE expression.  Monotone in the
  same direction (docs whose tokens are relatively frequent in the
  target slice score high), deterministic bit-for-bit.
- **length_bucketed_batches** — curriculum/batch assembly: documents are
  bucketed by token-length quartile (broadcast-boundary binning — the
  ``price_decile_assignments`` pattern, no global NTILE), then packed
  into fixed-size training batches in deterministic md5 order within
  each bucket (two-phase grouped ranking — no per-bucket single-task
  window).  Length-homogeneous batches minimize padding waste.
- **bpe_train_merges** — byte-pair-encoding merge-table training: the
  iterative top-pair merge loop every BPE tokenizer trainer runs.
  Spark-first shape: ONE corpus scan builds the (word, count) frequency
  table; all K merge rounds iterate over that vocabulary-sized frame
  (exactly how real BPE trainers work — they never rescan the corpus),
  each round = one tiny pair-count aggregate + a higher-order-function
  array rewrite (no Python UDF anywhere).

Scale: dsir is explode → two hash aggs + one shuffle join back (the
vocabulary join is a plain shuffle join by design — AQE broadcasts it
when the vocab fits; the unigram_freq_scores rationale).  Batching is a
scan + one range exchange.  BPE's per-round cost is vocabulary-sized,
independent of corpus size after the first scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from retail_sales_project_bigdata_spark.operators.datasetops import (
    _DOC_HASH_SQL,
    _doc_hash,
)
from retail_sales_project_bigdata_spark.operators.ranking import (
    global_row_number,
    grouped_row_number,
)
from retail_sales_project_bigdata_spark.operators.textstats import (
    _TOKENIZE,
    _tokens,
)
from retail_sales_project_bigdata_spark.sources import (
    fan_out,
    read_table,
    table_rows,
)

DSIR_TARGET_LANG = "en"  # the "target domain" slice scores are aimed at
DSIR_SELECT_N = 100  # deterministic resample size (top-N by weight)

LENGTH_BUCKET_PROBS = [0.25, 0.5, 0.75]  # quartile boundaries
BATCH_DOCS = 16  # documents per training batch

BPE_NUM_MERGES = 8  # merge-table size for the training loop
BPE_MIN_PAIR_COUNT = 2  # stop when the best pair is this rare


# Trainer corpus cap.  Each BPE merge round re-aggregates pair counts
# over the trainer's vocabulary frame, so an UNCAPPED trainer is the one
# driver loop whose per-round cost grows with the corpus.  Nobody trains
# a tokenizer on 100 TB — the standard practice is a representative
# sample — so past the cap the trainer sees a deterministic
# ``doc_id``-modulus sample (the RECALL_EVAL_MAX_VECS pattern,
# similarity.py).  A no-op at every shipped testdata SF (≤5k docs), so
# the property tests against the pure-Python trainer stay exact; at the
# synthesized sf1 (50k docs) and beyond the per-round cost is bounded by
# the cap.  Read when the trainer runs, so a test can lower it.
BPE_TRAIN_MAX_DOCS = 20000


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance weight toward the {DSIR_TARGET_LANG}
    slice, plus the deterministic top-{DSIR_SELECT_N} selection.

    With Laplace(+1) smoothing over the corpus vocabulary V, the weight
    is the ratio of per-token arithmetic means::

        sum_tgt = Σ_tok (cnt_target(tok) + 1)      (exact BIGINT)
        sum_all = Σ_tok (cnt_corpus(tok) + 1)      (exact BIGINT)
        weight  = (sum_tgt · (N_all + V)) / (sum_all · (N_tgt + V))

    — the length-normalized "how much more frequent are this doc's
    tokens in the target than overall" score, computed as one fixed
    sequence of IEEE ops over exact integers (bit-identical in DuckDB;
    doubles round above 2^53 identically in both engines).  Selection is
    rank ≤ N under the total order (weight DESC, doc_id ASC) via the
    two-phase global ranking (no single-task window).

    Shape: explode → ONE vocabulary hash agg carrying both distributions
    (corpus count + conditional target count) → shuffle join back on
    token → per-doc agg.  The exploded frame is deliberately NOT cached:
    at corpus scale, recomputing a projection-pruned scan is cheaper
    than materializing the token-level expansion.
    """
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    pairs = docs.select(
        "doc_id", "lang", F.explode(_tokens()).alias("token")
    )
    # ONE vocabulary aggregate carries both distributions (corpus count +
    # conditional target count) — a second scan just for the target slice
    # would double the explode cost for no information gain.
    # The counts frame feeds TWO consumers (the totals aggregate and the
    # per-doc join-back); persist the vocabulary-sized result once so the
    # corpus explode+shuffle runs once, not per consumer (spill-safe
    # MEMORY_AND_DISK — same multi-consumer pattern as rfm_scores).
    counts = (
        pairs.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("cnt_all"),
            F.count(
                F.when(F.col("lang") == DSIR_TARGET_LANG, F.lit(1))
            ).alias("cnt_tgt"),
        )
        .persist()
    )
    totals = counts.agg(
        F.sum("cnt_all").cast("long").alias("n_all"),
        F.sum("cnt_tgt").cast("long").alias("n_tgt"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    per_doc = (
        pairs.join(counts, "token")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.col("cnt_tgt") + F.lit(1)).cast("long").alias("sum_tgt"),
            F.sum(F.col("cnt_all") + F.lit(1)).cast("long").alias("sum_all"),
        )
    )
    # Persist the per-doc scored frame (|docs| rows, payload-free) before
    # ranking: repartitionByRange's bounds-sampling pass would otherwise
    # re-evaluate the whole explode/join upstream a second time (the
    # rfm_scores persist-before-rank pattern).
    scored = (
        per_doc.crossJoin(F.broadcast(totals))
        .withColumn(
            "weight",
            (
                F.col("sum_tgt").cast("double")
                * (F.col("n_all") + F.col("v")).cast("double")
            )
            / (
                F.col("sum_all").cast("double")
                * (F.col("n_tgt") + F.col("v")).cast("double")
            ),
        )
        .persist()
    )
    ranked = global_row_number(
        scored, [F.desc("weight"), F.asc("doc_id")], "sel_rank"
    )
    return ranked.select(
        "doc_id",
        "lang",
        "n_tokens",
        "sum_tgt",
        "sum_all",
        "weight",
        "sel_rank",
        (F.col("sel_rank") <= DSIR_SELECT_N).cast("int").alias("selected"),
    )


DSIR_IMPORTANCE_WEIGHTS_SQL = f"""
WITH pairs AS (
  SELECT doc_id, lang,
         unnest(regexp_split_to_array(lower(text), '{_TOKENIZE}')) AS token
  FROM documents
),
counts AS (
  SELECT token,
         CAST(COUNT(*) AS BIGINT) AS cnt_all,
         CAST(COUNT(*) FILTER (WHERE lang = '{DSIR_TARGET_LANG}') AS BIGINT)
             AS cnt_tgt
  FROM pairs GROUP BY token
),
totals AS (
  SELECT CAST(SUM(cnt_all) AS BIGINT) AS n_all,
         CAST(SUM(cnt_tgt) AS BIGINT) AS n_tgt,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM counts
),
per_doc AS (
  SELECT p.doc_id, p.lang,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(c.cnt_tgt + 1) AS BIGINT) AS sum_tgt,
         CAST(SUM(c.cnt_all + 1) AS BIGINT) AS sum_all
  FROM pairs p
  JOIN counts c USING (token)
  GROUP BY p.doc_id, p.lang
),
scored AS (
  SELECT d.*,
         (CAST(sum_tgt AS DOUBLE) * CAST(n_all + v AS DOUBLE))
         / (CAST(sum_all AS DOUBLE) * CAST(n_tgt + v AS DOUBLE)) AS weight
  FROM per_doc d CROSS JOIN totals
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY weight DESC, doc_id ASC) AS sel_rank
  FROM scored
)
SELECT doc_id, lang, n_tokens, sum_tgt, sum_all, weight, sel_rank,
       CAST(sel_rank <= {DSIR_SELECT_N} AS INT) AS selected
FROM ranked
"""


def length_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-batch assembly with length bucketing: docs fall into
    token-length quartile buckets (broadcast exact-percentile
    boundaries, value-based binning — ties share a bucket), then each
    bucket is cut into fixed {BATCH_DOCS}-doc batches in deterministic
    md5(doc_id) order.  Returns the per-batch manifest
    (bucket, batch_id, n_docs, total_tokens, min/max_tokens) — what a
    data-loader shards on.

    Scale: the boundaries are ONE tiny aggregate broadcast back
    (no fact-table NTILE); the in-bucket ordering is the two-phase
    grouped ranking (4 low-cardinality strata would otherwise each sort
    on a single task — the grouped_row_number hazard note).
    """
    docs = fan_out(read_table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.size(_tokens()).cast("long").alias("n_tokens"),
        _doc_hash().alias("h"),
    )
    probs = F.array(*[F.lit(q) for q in LENGTH_BUCKET_PROBS])
    bounds = docs.agg(F.percentile("n_tokens", probs).alias("bs"))
    bucketed = docs.crossJoin(F.broadcast(bounds)).select(
        "doc_id",
        "n_tokens",
        "h",
        (
            F.lit(1) + F.size(F.filter("bs", lambda b: b < F.col("n_tokens")))
        ).alias("bucket"),
    )
    ranked = grouped_row_number(
        bucketed, ["bucket"], [F.asc("h"), F.asc("doc_id")], "rn"
    )
    batches = ranked.withColumn(
        "batch_id",
        (F.floor((F.col("rn") - 1) / BATCH_DOCS) + 1).cast("int"),
    )
    return batches.groupBy("bucket", "batch_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )


_BUCKET_LIST = ", ".join(str(q) for q in LENGTH_BUCKET_PROBS)

LENGTH_BUCKETED_BATCHES_SQL = f"""
WITH base AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(lower(text), '{_TOKENIZE}')) AS BIGINT)
             AS n_tokens,
         {_DOC_HASH_SQL} AS h
  FROM documents
),
bounds AS (
  SELECT quantile_cont(n_tokens, [{_BUCKET_LIST}]) AS bs FROM base
),
bucketed AS (
  SELECT doc_id, n_tokens, h,
         1 + len(list_filter(bs, b -> b < n_tokens)) AS bucket
  FROM base CROSS JOIN bounds
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY bucket ORDER BY h ASC, doc_id ASC) AS rn
  FROM bucketed
),
batches AS (
  SELECT *, CAST(FLOOR((rn - 1) / {BATCH_DOCS}) + 1 AS INT) AS batch_id
  FROM ranked
)
SELECT bucket, batch_id, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens
FROM batches GROUP BY bucket, batch_id
"""


def _apply_merge(syms, a: str, b: str, merged_sym: str):
    """Column expression: one greedy left-to-right merge pass over a
    symbol array via a higher-order ``aggregate`` fold (no Python UDF;
    ``get(acc, size-1)`` returns NULL on the empty accumulator, so no
    ANSI index error).  Greedy non-overlap falls out of the fold: after
    merging, the new symbol is not ``a``, so "aaa" under (a,a) →
    [aa, a], matching reference trainers."""
    return F.aggregate(
        syms,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, x: F.when(
            (F.get(acc, F.size(acc) - F.lit(1)) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.lit(merged_sym)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _learn_merges(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    """The BPE training loop shared by ``bpe_train_merges`` (which ships
    the table) and ``bpe_encode_stats`` (which applies it).  See
    ``bpe_train_merges`` for the algorithm and scale notes.

    Returns ``(merges, final_vocab)`` where ``final_vocab`` is the
    checkpointed (word, wcnt, syms) frame with ALL merges already
    applied — the trainer's own working state, which IS the encoded form
    of every multi-symbol distinct word (so corpus encoding is a join,
    not a re-application of the merge chain).
    """
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    # Deterministic trainer-corpus cap (see BPE_TRAIN_MAX_DOCS): past the
    # cap, train on every step-th doc_id.  The count comes from the
    # parquet footers (no Spark job); step == 1 (no-op) at every
    # testdata SF.
    n_docs = table_rows(sf_dir, "documents")
    step = max(1, -(-n_docs // BPE_TRAIN_MAX_DOCS))  # ceil div
    if step > 1:
        docs = docs.filter(F.col("doc_id") % F.lit(step) == F.lit(0))
    vocab = (
        docs.select(F.explode(_tokens()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wcnt"))
        .select(
            "word",
            "wcnt",
            F.filter(F.split("word", ""), lambda s: s != "").alias("syms"),
        )
        .filter(F.size("syms") >= 2)
    )
    cur = vocab.persist()
    merges: list[tuple[int, str, str, str, int]] = []
    try:
        for rank in range(1, BPE_NUM_MERGES + 1):
            pair_counts = (
                cur.select(
                    "wcnt",
                    F.explode(
                        F.zip_with(
                            F.slice(F.col("syms"), 1, F.size("syms") - 1),
                            F.slice(F.col("syms"), 2, F.size("syms") - 1),
                            lambda a, b: F.struct(
                                a.alias("left"), b.alias("right")
                            ),
                        )
                    ).alias("pr"),
                )
                .groupBy(F.col("pr.left").alias("left"), F.col("pr.right").alias("right"))
                .agg(F.sum("wcnt").alias("pair_count"))
            )
            top = (
                pair_counts.orderBy(
                    F.desc("pair_count"), F.asc("left"), F.asc("right")
                )
                .limit(1)
                .collect()
            )
            if not top or top[0]["pair_count"] < BPE_MIN_PAIR_COUNT:
                break
            a, b = top[0]["left"], top[0]["right"]
            merged_sym = a + b
            merges.append((rank, a, b, merged_sym, int(top[0]["pair_count"])))
            nxt = cur.select(
                "word",
                "wcnt",
                _apply_merge("syms", a, b, merged_sym).alias("syms"),
            ).persist()
            try:
                nxt.count()  # materialize before dropping the parent cache
            except BaseException:
                nxt.unpersist()  # outer handler only knows about cur
                raise
            cur.unpersist()
            cur = nxt
    except BaseException:
        cur.unpersist()
        raise
    final_vocab = cur.localCheckpoint(eager=True)
    cur.unpersist()
    return merges, final_vocab


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer merge-table training: learn the top
    {BPE_NUM_MERGES} byte-pair merges over the corpus, exactly as a BPE
    trainer does — per round, count adjacent symbol pairs weighted by
    word frequency, take the global argmax (ties: lexicographic on the
    pair — deterministic), rewrite every word's symbol sequence with the
    merge applied greedily left-to-right, repeat.

    Returns the learned merge table: (merge_rank, left, right, merged,
    pair_count) — the artifact a tokenizer ships.

    Spark shape: the corpus is scanned ONCE into the distinct
    (word, count) frequency table; every round then runs on that
    vocabulary-sized frame — a pair-count hash agg (+ a LIMIT 1 argmax,
    the only driver round-trip, one tiny row per round) and a
    higher-order ``aggregate`` fold that applies the merge in-array
    (``_apply_merge`` — no Python UDF anywhere).  Each round persists
    the rewritten vocab and unpersists the previous one (K bounded
    iterations, pagerank-style driver loop).

    Rows-only for the driver gate (iterative argmax is not
    SQL-expressible in one statement); value-checked in tests against a
    pure-Python reference BPE trainer on the same corpus.
    """
    merges, _final_vocab = _learn_merges(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "merge_rank int, left string, right string, merged string, pair_count long",
    )


def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION — the other half of the BPE lifecycle: encode
    the corpus with the merge table ``_learn_merges`` just learned and
    report per-source tokenizer economics: total words, total BPE tokens,
    fertility (tokens per word) and compression (chars per token) — the
    numbers that size a training run's token budget under a tokenizer.

    Spark shape (the trainer's own working state, reused for encoding):
    the corpus is NOT encoded row-by-row, and the merge chain is NOT
    re-applied to words the trainer saw — its final vocabulary frame
    ALREADY holds every multi-symbol distinct word it trained on in
    fully-merged form, so encoding is one (source, word) frequency scan
    joined to that vocabulary-sized frame (AQE broadcasts it when the
    vocab fits).  Words ABSENT from the trainer frame — single-symbol
    words always, plus genuine out-of-sample words when the trainer ran
    capped (BPE_TRAIN_MAX_DOCS) — encode via the learned merge chain
    applied directly in the COALESCE fallback (K bounded folds,
    evaluated per row only on join misses; the identity for
    single-symbol words).  Encode cost is O(|vocab|) plus the miss set,
    independent of corpus row count.

    All counts are exact BIGINTs; the two ratios are single IEEE
    divisions — deterministic across engines.  Rows-only for the driver
    gate (the merge table is learned iteratively); value-checked in
    tests against a pure-Python encoder using the same merge table.
    """
    _merges, final_vocab = _learn_merges(spark, sf_dir)
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    word_counts = (
        docs.select("source", F.explode(_tokens()).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("wcnt"))
    )
    encoded = final_vocab.select(
        "word", F.size("syms").cast("long").alias("n_merged_tokens")
    )
    n_docs = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    # Words ABSENT from the trainer frame encode by applying the learned
    # merge chain directly: K bounded ``_apply_merge`` folds over the
    # split word (evaluated per-row only when the join misses).  On an
    # uncapped trainer every multi-symbol word is present, so the misses
    # are single-symbol words where the chain is the identity (size 1 —
    # value-identical to the former ``lit(1)`` default); on a CAPPED
    # trainer (BPE_TRAIN_MAX_DOCS) this is the correct out-of-sample
    # encoding, not an undercount.
    oos_syms = F.filter(F.split(F.col("word"), ""), lambda s: s != "")
    for _rank, a, b, merged_sym, _cnt in _merges:
        oos_syms = _apply_merge(oos_syms, a, b, merged_sym)
    per_source = (
        word_counts.join(encoded, "word", "left")
        .select(
            "source",
            "wcnt",
            F.coalesce(
                F.col("n_merged_tokens"), F.size(oos_syms).cast("long")
            ).alias("n_bpe_tokens"),
            F.length("word").cast("long").alias("n_chars"),
        )
        .groupBy("source")
        .agg(
            F.sum("wcnt").cast("long").alias("total_words"),
            F.sum(F.col("wcnt") * F.col("n_bpe_tokens"))
            .cast("long")
            .alias("total_tokens"),
            F.sum(F.col("wcnt") * F.col("n_chars"))
            .cast("long")
            .alias("total_chars"),
        )
    )
    out = (
        per_source.join(F.broadcast(n_docs), "source")
        .select(
            "source",
            "n_docs",
            "total_words",
            "total_tokens",
            "total_chars",
            (
                F.col("total_tokens").cast("double") / F.col("total_words")
            ).alias("fertility"),
            (
                F.col("total_chars").cast("double") / F.col("total_tokens")
            ).alias("chars_per_token"),
        )
    )
    # final_vocab is a localCheckpoint (see _learn_merges): lineage is
    # truncated, so the returned lazy plan can never replay the K-round
    # merge loop.  Its blocks live until the caller's
    # registry.query_scope closes.
    return out


ORACLES: dict[str, str] = {
    "dsir_importance_weights": DSIR_IMPORTANCE_WEIGHTS_SQL,
    "length_bucketed_batches": LENGTH_BUCKETED_BATCHES_SQL,
    # bpe_train_merges / bpe_encode_stats: rows-only (iterative merge
    # learning; both value-checked vs a pure-Python BPE in tests)
}

QUERIES = {
    "dsir_importance_weights": dsir_importance_weights,
    "length_bucketed_batches": length_bucketed_batches,
    "bpe_train_merges": bpe_train_merges,
    "bpe_encode_stats": bpe_encode_stats,
}
