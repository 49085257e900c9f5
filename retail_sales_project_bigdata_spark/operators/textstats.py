"""Text analysis over the ``documents`` table (north-star training-data ops).

Language-ID (marker-token heuristic), quality scoring (length / alpha /
stopword ratios), token counting (regex tokenizer), and document
fingerprinting (md5 over the sorted distinct-token set).  Everything is
built-in column functions (``split`` / ``filter`` / ``transform`` /
``regexp_replace`` / ``md5``) — JVM-side, no Python in the hot path — and
every query has an exact DuckDB oracle.

Scale: all per-row narrow transforms except the per-source rollup (one
partial+final hash agg).  At 100 TB these pipelines are scan-bound, which
is exactly what you want — no shuffle, no UDF serialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from retail_sales_project_bigdata_spark.functions import pround
from retail_sales_project_bigdata_spark.sources import fan_out, read_table

# Marker stopwords per language for the n-gram/marker heuristic.  Chosen for
# determinism, not linguistic accuracy (the synthetic corpus shares one
# vocabulary across langs — accuracy is measured but not asserted).
_MARKERS = {
    "en": ["the", "a", "of"],
    "fr": ["le", "la", "de"],
    "de": ["der", "die", "und"],
    "es": ["el", "los", "que"],
}

STOPWORDS = ["the", "a", "of", "and", "to", "in"]

_TOKENIZE = r"[ ]+"  # single-space corpus; regex split drops empty tokens


def _tokens(col: str = "text") -> F.Column:
    return F.split(F.lower(F.col(col)), _TOKENIZE)


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features: token count, char stats, alpha ratio,
    stopword ratio, and a thresholded quality flag."""
    return text_quality_of(read_table(spark, sf_dir, "documents"))


def text_quality_of(docs: DataFrame) -> DataFrame:
    """:func:`text_quality` over a given ``documents`` frame, on its own
    partitions (a caller with heavier work downstream may fan it out)."""
    toks = _tokens()
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    df = docs.select(
        "doc_id",
        "source",
        F.length("text").alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.length(F.regexp_replace(F.col("text"), r"[^a-zA-Z]", "")).alias(
            "n_alpha_chars"
        ),
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).alias(
            "n_stopwords"
        ),
    )
    return df.select(
        "doc_id",
        "source",
        "n_chars",
        "n_tokens",
        pround(
            F.col("n_chars").cast("double") / F.col("n_tokens"), 6
        ).alias("avg_token_len"),
        pround(
            F.col("n_alpha_chars").cast("double") / F.col("n_chars"), 6
        ).alias("alpha_ratio"),
        pround(
            F.col("n_stopwords").cast("double") / F.col("n_tokens"), 6
        ).alias("stopword_ratio"),
        F.when(
            (F.col("n_tokens") >= 10)
            & (F.col("n_stopwords") / F.col("n_tokens") < 0.5),
            1,
        )
        .otherwise(0)
        .alias("is_quality"),
    )


_STOP_IN = ", ".join(f"'{s}'" for s in STOPWORDS)

TEXT_QUALITY_SQL = f"""
WITH base AS (
  SELECT doc_id, source,
         length(text) AS n_chars,
         len(regexp_split_to_array(lower(text), '[ ]+')) AS n_tokens,
         length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha_chars,
         len(list_filter(regexp_split_to_array(lower(text), '[ ]+'),
                         t -> t IN ({_STOP_IN}))) AS n_stopwords
  FROM documents
)
SELECT doc_id, source, n_chars, n_tokens,
       ROUND(CAST(n_chars AS DOUBLE) / n_tokens, 6) AS avg_token_len,
       ROUND(CAST(n_alpha_chars AS DOUBLE) / n_chars, 6) AS alpha_ratio,
       ROUND(CAST(n_stopwords AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
       CASE WHEN n_tokens >= 10 AND CAST(n_stopwords AS DOUBLE) / n_tokens < 0.5
            THEN 1 ELSE 0 END AS is_quality
FROM base
"""


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language heuristic with deterministic argmax
    (ties break in fixed en→fr→de→es order)."""
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    toks = _tokens()
    def _count_markers(markers: list[str]) -> F.Column:
        arr = F.array(*[F.lit(m) for m in markers])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    counts = {lang: _count_markers(markers) for lang, markers in _MARKERS.items()}
    best = F.greatest(*counts.values())
    pred = (
        F.when(best == 0, F.lit("unknown"))
        .when(counts["en"] == best, F.lit("en"))
        .when(counts["fr"] == best, F.lit("fr"))
        .when(counts["de"] == best, F.lit("de"))
        .otherwise(F.lit("es"))
    )
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_actual"),
        pred.alias("lang_pred"),
        *[counts[lang].alias(f"n_{lang}_markers") for lang in _MARKERS],
    )


def _marker_count_sql(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in _MARKERS[lang])
    return (
        f"len(list_filter(regexp_split_to_array(lower(text), '[ ]+'),"
        f" t -> t IN ({markers})))"
    )


LANG_ID_SQL = f"""
WITH c AS (
  SELECT doc_id, lang,
         {_marker_count_sql('en')} AS n_en,
         {_marker_count_sql('fr')} AS n_fr,
         {_marker_count_sql('de')} AS n_de,
         {_marker_count_sql('es')} AS n_es
  FROM documents
)
SELECT doc_id, lang AS lang_actual,
       CASE WHEN GREATEST(n_en, n_fr, n_de, n_es) = 0 THEN 'unknown'
            WHEN n_en = GREATEST(n_en, n_fr, n_de, n_es) THEN 'en'
            WHEN n_fr = GREATEST(n_en, n_fr, n_de, n_es) THEN 'fr'
            WHEN n_de = GREATEST(n_en, n_fr, n_de, n_es) THEN 'de'
            ELSE 'es' END AS lang_pred,
       n_en AS n_en_markers, n_fr AS n_fr_markers,
       n_de AS n_de_markers, n_es AS n_es_markers
FROM c
"""


def token_counts_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level token accounting per source (the budget/mixture query
    every training-data pipeline runs)."""
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    per_doc = docs.select(
        "source", F.size(_tokens()).cast("long").alias("n_tokens")
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        pround(F.sum("n_tokens") / F.count(F.lit(1)), 6).alias("avg_tokens"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )


TOKEN_COUNTS_BY_SOURCE_SQL = """
WITH per_doc AS (
  SELECT source,
         CAST(len(regexp_split_to_array(lower(text), '[ ]+')) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       ROUND(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*), 6) AS avg_tokens,
       MIN(n_tokens) AS min_tokens,
       MAX(n_tokens) AS max_tokens
FROM per_doc GROUP BY source
"""


# BPE-style pre-tokenizer pattern (GPT-2-family simplified to portable
# character classes: letter runs, digit runs, single other-symbols — the
# split boundaries a byte-level BPE sees before merges).  Class-based, so
# Java regex (Spark) and RE2-style (DuckDB) agree exactly.
_BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish token accounting per doc: pre-tokenizer
    match count (``regexp_count`` — JVM-side, no Python) and the
    chars-per-token compression ratio that budget planning uses to
    convert corpus bytes into training tokens."""
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    low = F.lower(F.col("text"))
    n_ws = F.size(_tokens()).cast("long")
    n_bpe = F.regexp_count(low, F.lit(_BPE_PATTERN)).cast("long")
    return docs.select(
        "doc_id",
        "source",
        n_ws.alias("n_tokens_ws"),
        n_bpe.alias("n_tokens_bpe"),
        pround(F.length("text") / n_bpe, 6).alias("chars_per_bpe_token"),
    )


BPE_TOKEN_STATS_SQL = f"""
SELECT doc_id, source,
       CAST(len(regexp_split_to_array(lower(text), '[ ]+')) AS BIGINT) AS n_tokens_ws,
       CAST(len(regexp_extract_all(lower(text), '{_BPE_PATTERN}')) AS BIGINT) AS n_tokens_bpe,
       ROUND(CAST(length(text) AS DOUBLE)
             / len(regexp_extract_all(lower(text), '{_BPE_PATTERN}')), 6)
           AS chars_per_bpe_token
FROM documents
"""


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: md5 of the raw text (exact identity) and md5
    of the sorted distinct-token set (bag-of-words identity — robust to
    token order, the rolling-hash analog with an exact cross-engine
    definition)."""
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    toks = _tokens()
    return docs.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("exact_fp"),
        F.md5(
            F.concat_ws(" ", F.sort_array(F.array_distinct(toks))).cast("binary")
        ).alias("bow_fp"),
    )


DOC_FINGERPRINTS_SQL = """
SELECT doc_id,
       md5(text) AS exact_fp,
       md5(array_to_string(list_sort(list_distinct(
           regexp_split_to_array(lower(text), '[ ]+'))), ' ')) AS bow_fp
FROM documents
"""


TFIDF_TOP_K = 5


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-K salient terms — TF-IDF shape with an
    ENGINE-EXACT salience score ``tf * N / df`` (plain rarity weighting
    instead of ``tf·ln(N/df)``: libm ``log`` implementations differ in
    final ulps across engines, while integer multiply + one IEEE double
    divide is bit-identical everywhere, keeping the top-K ordering — and
    the oracle — deterministic).

    Shape: one explode → (doc, token) count for TF; token-level
    re-aggregate for DF (document frequency); N rides in as a broadcast
    scalar.  The rank window partitions by doc — state is per-document
    vocabulary, never corpus-sized.
    """
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    pairs = docs.select(
        "doc_id", F.explode(_tokens()).alias("token")
    )
    tf = pairs.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "salience",
            (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("salience"), F.asc("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "rank", "token", "tf", "df", "salience")
    )


TFIDF_TOP_TERMS_SQL = f"""
WITH pairs AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '{_TOKENIZE}')) AS token
  FROM documents
),
tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM pairs GROUP BY doc_id, token
),
df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.token, t.tf, df.df,
         CAST(t.tf * n.n_docs AS DOUBLE) / df.df AS salience
  FROM tf t JOIN df USING (token) CROSS JOIN n
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY salience DESC, token ASC) AS rank
  FROM scored
)
SELECT doc_id, CAST(rank AS INT) AS rank, token, tf, df, salience
FROM ranked WHERE rank <= {TFIDF_TOP_K}
"""


REPETITION_FLAG_THRESHOLD = 0.2


def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: distinct-token ratio,
    most-frequent-token share, most-frequent-bigram share, duplicate-bigram
    fraction, and a repetitiveness flag (top-bigram share > threshold).

    Shape: explode → (doc, token) / (doc, bigram) term frequencies, then a
    per-doc re-aggregate — two shuffles keyed by (doc_id, term) then
    doc_id, both partial+final hash aggs.  State is per-document
    vocabulary, never corpus-sized, so the plan is scan-bound at 100 TB
    (the array-only alternative — ``array_max(transform(array_distinct
    ...))`` — is O(len·distinct) per row and was rejected).
    """
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    toks_df = docs.select("doc_id", _tokens().alias("toks"))
    tok_tf = (
        toks_df.select("doc_id", F.explode("toks").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    tok_stats = tok_tf.groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("tf").alias("top_tf"),
    )
    bigrams = toks_df.select(
        "doc_id",
        F.expr(
            "zip_with(slice(toks, 1, size(toks) - 1),"
            " slice(toks, 2, size(toks) - 1),"
            " (a, b) -> concat(a, ' ', b))"
        ).alias("bigrams"),
    )
    big_tf = (
        bigrams.select("doc_id", F.explode("bigrams").alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("tf2"))
    )
    big_stats = big_tf.groupBy("doc_id").agg(
        F.sum("tf2").alias("n_bigrams"),
        F.count(F.lit(1)).alias("n_distinct_bigrams"),
        F.max("tf2").alias("top2_tf"),
    )
    joined = tok_stats.join(big_stats, "doc_id", "left")
    top_bigram_frac = pround(
        F.coalesce(F.col("top2_tf") / F.col("n_bigrams"), F.lit(0.0)), 6
    )
    return joined.select(
        "doc_id",
        "n_tokens",
        pround(F.col("n_distinct") / F.col("n_tokens"), 6).alias(
            "distinct_token_ratio"
        ),
        pround(F.col("top_tf") / F.col("n_tokens"), 6).alias(
            "top_token_frac"
        ),
        top_bigram_frac.alias("top_bigram_frac"),
        pround(
            F.coalesce(
                1 - F.col("n_distinct_bigrams") / F.col("n_bigrams"),
                F.lit(0.0),
            ),
            6,
        ).alias("dup_bigram_frac"),
        F.when(top_bigram_frac > REPETITION_FLAG_THRESHOLD, 1)
        .otherwise(0)
        .alias("is_repetitive"),
    )


DOC_REPETITION_STATS_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '{_TOKENIZE}') AS t
  FROM documents
),
tok_tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(t) AS token FROM toks)
  GROUP BY doc_id, token
),
tok_stats AS (
  SELECT doc_id, SUM(tf) AS n_tokens, COUNT(*) AS n_distinct,
         MAX(tf) AS top_tf
  FROM tok_tf GROUP BY doc_id
),
big_tf AS (
  SELECT doc_id, bigram, CAST(COUNT(*) AS BIGINT) AS tf2
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i + 1])) AS bigram
        FROM toks)
  GROUP BY doc_id, bigram
),
big_stats AS (
  SELECT doc_id, SUM(tf2) AS n_bigrams, COUNT(*) AS n_distinct_bigrams,
         MAX(tf2) AS top2_tf
  FROM big_tf GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(t.n_tokens AS BIGINT) AS n_tokens,
       ROUND(CAST(t.n_distinct AS DOUBLE) / t.n_tokens, 6)
           AS distinct_token_ratio,
       ROUND(CAST(t.top_tf AS DOUBLE) / t.n_tokens, 6) AS top_token_frac,
       ROUND(COALESCE(CAST(b.top2_tf AS DOUBLE) / b.n_bigrams, 0.0), 6)
           AS top_bigram_frac,
       ROUND(COALESCE(1 - CAST(b.n_distinct_bigrams AS DOUBLE) / b.n_bigrams,
                      0.0), 6) AS dup_bigram_frac,
       CASE WHEN ROUND(COALESCE(CAST(b.top2_tf AS DOUBLE) / b.n_bigrams, 0.0), 6)
                 > {REPETITION_FLAG_THRESHOLD}
            THEN 1 ELSE 0 END AS is_repetitive
FROM tok_stats t LEFT JOIN big_stats b USING (doc_id)
"""


PHRASE_DISCOUNT = 5  # word2phrase delta: suppresses rare-bigram noise
PHRASE_SCORE_MIN = 0.5
PHRASE_TOP_K = 50


def phrase_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2phrase-style collocation mining: score each corpus bigram by
    ``(count(ab) - delta) * N / (count(a) * count(b))`` — the discounted
    PMI ratio WITHOUT the log (monotone in PMI, so ranking/thresholding
    is identical, and the integer-derived arithmetic is bit-exact across
    engines where libm ``log`` is not).  Top-K candidates above the
    score floor become merge candidates for a tokenizer pass.

    Shapes: one (doc, position)-free unigram count and one bigram count
    (each a partial+final hash agg), two equi-joins of the bigram frame
    against the unigram counts, a broadcast total, and a global top-K
    (TakeOrderedAndProject — no full sort).  Nothing here holds
    corpus-sized state outside hash aggregates.
    """
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    toks_df = docs.select(_tokens().alias("toks"))
    unigrams = (
        toks_df.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = unigrams.agg(F.sum("cnt").alias("n_tokens"))
    bigrams = (
        toks_df.select(
            F.explode(
                F.expr(
                    "zip_with(slice(toks, 1, size(toks) - 1),"
                    " slice(toks, 2, size(toks) - 1),"
                    " (a, b) -> struct(a as w1, b as w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cnt_ab"))
    )
    scored = (
        bigrams.join(
            unigrams.select(
                F.col("w").alias("w1"), F.col("cnt").alias("cnt_a")
            ),
            "w1",
        )
        .join(
            unigrams.select(
                F.col("w").alias("w2"), F.col("cnt").alias("cnt_b")
            ),
            "w2",
        )
        .crossJoin(F.broadcast(total))
        .withColumn(
            "score",
            (F.col("cnt_ab") - F.lit(PHRASE_DISCOUNT))
            * F.col("n_tokens").cast("double")
            # double multiply: two frequent-token counts (~1e12 at 100 TB)
            # would overflow int64 under ANSI; both sides stay exact below
            # 2^53 so the oracle hash is unchanged (cast mirrored in SQL).
            / (F.col("cnt_a").cast("double") * F.col("cnt_b")),
        )
        .filter(F.col("score") > PHRASE_SCORE_MIN)
    )
    return (
        scored.select("w1", "w2", "cnt_ab", "cnt_a", "cnt_b", "score")
        .orderBy(F.desc("score"), F.asc("w1"), F.asc("w2"))
        .limit(PHRASE_TOP_K)
    )


PHRASE_CANDIDATES_SQL = f"""
WITH toks AS (
  SELECT regexp_split_to_array(lower(text), '{_TOKENIZE}') AS t FROM documents
),
unigrams AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
),
total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_tokens FROM unigrams),
bigrams AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt_ab
  FROM (SELECT unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
               unnest(list_transform(range(1, len(t)), i -> t[i + 1])) AS w2
        FROM toks)
  GROUP BY w1, w2
),
scored AS (
  SELECT b.w1, b.w2, b.cnt_ab, ua.cnt AS cnt_a, ub.cnt AS cnt_b,
         (b.cnt_ab - {PHRASE_DISCOUNT}) * CAST(t.n_tokens AS DOUBLE)
             / (CAST(ua.cnt AS DOUBLE) * ub.cnt) AS score
  FROM bigrams b
  JOIN unigrams ua ON b.w1 = ua.w
  JOIN unigrams ub ON b.w2 = ub.w
  CROSS JOIN total t
)
SELECT w1, w2, cnt_ab, cnt_a, cnt_b, score
FROM scored WHERE score > {PHRASE_SCORE_MIN}
ORDER BY score DESC, w1 ASC, w2 ASC
LIMIT {PHRASE_TOP_K}
"""


BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 10
#: Fixed retrieval queries over the synthetic corpus vocabulary — the
#: decontamination/retrieval probe set (deterministic; change freely).
BM25_QUERIES = {
    "q_exec": "hash join shuffle",
    "q_window": "window sort batch",
    "q_retail": "customer order data",
}


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-{BM25_TOP_K} retrieval for a fixed query set — the
    lexical-retrieval operator an LLM-data pipeline runs for eval-set
    decontamination and targeted corpus probes (Okapi BM25, k1={BM25_K1},
    b={BM25_B}).

    Shape (optimization round r9, guide §2.3 — shuffle fewer bytes):
    the query-term filter runs MAP-SIDE on the exploded postings BEFORE
    any aggregation, so the only (doc, term) aggregate ever shuffled is
    the handful of postings whose term appears in a query — the full
    corpus-wide term-frequency matrix is never materialized (the
    previous shape aggregated it once per consumer subtree: tf, df and
    the doc-length pass).  Corpus stats (n_docs, avgdl) come straight
    off the document scan — ``size(toks)`` needs no explode.  The
    per-query top-k is a rank window partitioned by q_id — few queries,
    but Spark plans it as WindowGroupLimit (partial top-k per map task
    BEFORE the shuffle, asserted in tests), so the q_id stratum never
    concentrates the corpus on one task.

    Rows-only for the driver: ``ln`` differs across engines in the last
    ulp; a property test recomputes the scores in pure Python instead.
    """
    docs = fan_out(read_table(spark, sf_dir, "documents")).select(
        "doc_id", F.split(F.lower(F.col("text")), "[ ]+").alias("toks")
    )
    # Same doc universe as the former explode→distinct pass: a null
    # toks array emits no postings, so such docs never counted.
    toked = docs.filter(F.col("toks").isNotNull())
    corpus = toked.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(F.size("toks").cast("double")).alias("avgdl"),
    )
    q_terms = spark.createDataFrame(
        [
            (q_id, term)
            for q_id, q in sorted(BM25_QUERIES.items())
            for term in q.split()
        ],
        "q_id string, term string",
    )
    # Map-side prune: keep only postings for query terms, THEN aggregate
    # — the shuffled frame is |matching postings|, not |corpus terms|.
    postings = toked.select(
        "doc_id",
        F.size("toks").cast("double").alias("dl"),
        F.explode("toks").alias("term"),
    ).join(
        F.broadcast(q_terms.select("term").distinct()), "term", "semi"
    )
    tf = postings.groupBy("doc_id", "dl", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    # df of a query term == #docs carrying it == #rows of tf per term
    # (tf is keyed by (doc, term)); tf is query-term-pruned, so this
    # aggregate is tiny.
    df_counts = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tf_norm = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf")
        + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(q_terms), "term")
        .join(F.broadcast(df_counts), "term")
        .crossJoin(F.broadcast(corpus))
        .groupBy("q_id", "doc_id")
        .agg(F.sum(idf * tf_norm).alias("score"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_TOP_K)
        .select("q_id", "doc_id", "rank", pround("score", 6).alias("score"))
    )


# ---------------------------------------------------------------------------
# PII scrubbing (LLM-pipeline staple): redact emails / phone numbers /
# IPv4 addresses before training.  The synthetic corpus carries no PII,
# so both engines INJECT it deterministically from doc_id (same rows,
# same strings) — the value check then proves the detection counts AND
# the scrubbed text byte-for-byte.  Patterns stay in the RE2 ∩ Java
# regex dialect intersection (char classes, bounded repeats, \b).
# ---------------------------------------------------------------------------

PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b"
PII_PHONE_RE = r"\b[0-9]{3}-[0-9]{4}\b"


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII detection + redaction: counts of emails, phone
    numbers and IPv4 addresses, and the scrubbed text with each match
    replaced by a typed placeholder.

    Shape: pure per-row ``regexp_count`` / ``regexp_replace`` — map-only,
    scan-bound, no shuffle, no UDF; at 100 TB this runs at parquet-scan
    speed.  Replacement order matters (email before IP before phone:
    an email's host part must not be half-eaten as an IP) and is fixed
    identically in both engines.
    """
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" call 555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" host 10."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".0.1"),
                ),
            ).otherwise(F.lit("")),
        ).alias("raw"),
    )
    # Counts are taken on the SAME progressively-scrubbed string the
    # replacement chain uses, so each count equals the number of its
    # placeholder in clean_text (an IP inside an email host counts as
    # part of the email, never double-counts as an IP).
    after_email = F.regexp_replace(F.col("raw"), PII_EMAIL_RE, "<EMAIL>")
    after_ip = F.regexp_replace(after_email, PII_IPV4_RE, "<IP>")
    scrubbed = F.regexp_replace(after_ip, PII_PHONE_RE, "<PHONE>")
    return injected.select(
        "doc_id",
        F.regexp_count(F.col("raw"), F.lit(PII_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(after_email, F.lit(PII_IPV4_RE)).alias("n_ips"),
        F.regexp_count(after_ip, F.lit(PII_PHONE_RE)).alias("n_phones"),
        scrubbed.alias("clean_text"),
    )


PII_SCRUB_SQL = f"""
WITH injected AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1'
                 ELSE '' END AS raw
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(raw, '{PII_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(after_email, '{PII_IPV4_RE}')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(after_ip, '{PII_PHONE_RE}')) AS BIGINT) AS n_phones,
       regexp_replace(after_ip, '{PII_PHONE_RE}', '<PHONE>', 'g') AS clean_text
FROM (
  SELECT doc_id, raw, after_email,
         regexp_replace(after_email, '{PII_IPV4_RE}', '<IP>', 'g') AS after_ip
  FROM (
    SELECT doc_id, raw,
           regexp_replace(raw, '{PII_EMAIL_RE}', '<EMAIL>', 'g') AS after_email
    FROM injected
  )
)
"""


LOW_INFO_FREQ_THRESHOLD = 500.0  # mean corpus-frequency above ⇒ boilerplate


def unigram_freq_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality proxy, ENGINE-EXACT: per document, the mean and
    minimum CORPUS frequency of its tokens.  The classic filter scores a
    doc by avg unigram logprob ``avg(ln(cnt/total))``; libm ``ln`` differs
    across engines in final ulps (same reason tfidf_top_terms avoids it),
    so this uses the monotone-equivalent rational form: ``sum(cnt)`` and
    ``min(cnt)`` are exact BIGINT aggregates and the mean is ONE IEEE
    divide — bit-identical everywhere.  High mean frequency ⇒ common /
    boilerplate text; low min frequency ⇒ contains rare (possibly noisy)
    tokens.  Both thresholds are the standard quality-funnel inputs.

    Shape: explode → (token) corpus counts (one hash agg), join the
    counts back onto the exploded pairs on token, re-aggregate per doc.
    The counts side is vocabulary-sized — UNBOUNDED for a web corpus
    (the vocab_table lesson), so the join is a plain shuffle join by
    design; AQE converts it to broadcast at runtime when the vocabulary
    actually fits, which is the right call in both regimes.
    """
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    pairs = docs.select("doc_id", F.explode(_tokens()).alias("token"))
    counts = pairs.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    per_doc = (
        pairs.join(counts, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("cnt").alias("sum_freq"),
            F.min("cnt").alias("min_freq"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "sum_freq",
        "min_freq",
        (F.col("sum_freq").cast("double") / F.col("n_tokens")).alias(
            "mean_freq"
        ),
        (
            F.col("sum_freq").cast("double") / F.col("n_tokens")
            > LOW_INFO_FREQ_THRESHOLD
        )
        .cast("int")
        .alias("low_info_flag"),
    )


UNIGRAM_FREQ_SCORES_SQL = f"""
WITH pairs AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '{_TOKENIZE}')) AS token
  FROM documents
),
counts AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM pairs GROUP BY token),
per_doc AS (
  SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(c.cnt) AS BIGINT) AS sum_freq,
         MIN(c.cnt) AS min_freq
  FROM pairs p JOIN counts c USING (token)
  GROUP BY p.doc_id
)
SELECT doc_id, n_tokens, sum_freq, min_freq,
       CAST(sum_freq AS DOUBLE) / n_tokens AS mean_freq,
       CAST(CAST(sum_freq AS DOUBLE) / n_tokens > {LOW_INFO_FREQ_THRESHOLD}
            AS INT) AS low_info_flag
FROM per_doc
"""


NGRAM_LM_TOP_SUCCESSORS = 5


def ngram_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based n-gram LM successor tables (KenLM-shaped): for every
    bigram and trigram context, the top-{NGRAM_LM_TOP_SUCCESSORS} next
    tokens by count with the context total — the raw material for
    count-LM scoring, perplexity-proxy filtering, and completion-bias
    audits of a corpus.

    Shape: n-gram construction is a per-row ``zip_with``/``slice`` array
    transform (narrow, no shuffle); counting is ONE partial+final hash
    agg per order; the successor rank window partitions by (n, context)
    — corpus-cardinality key, and Spark plans the rank-filter as
    WindowGroupLimit (partial top-k before the shuffle).  At 100 TB the
    context tables are the hash-agg output, never positional joins.
    """
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    toks_df = docs.select(_tokens().alias("toks"))
    bi = toks_df.select(
        F.explode(
            F.expr(
                "zip_with(slice(toks, 1, size(toks) - 1),"
                " slice(toks, 2, size(toks) - 1),"
                " (a, b) -> struct(a as ctx, b as nxt))"
            )
        ).alias("g")
    ).select(F.lit(2).alias("n"), "g.ctx", "g.nxt")
    tri = (
        toks_df.filter(F.size("toks") >= 3)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 3),"
                    " i -> struct(concat(toks[i], ' ', toks[i + 1]) as ctx,"
                    " toks[i + 2] as nxt))"
                )
            ).alias("g")
        )
        .select(F.lit(3).alias("n"), "g.ctx", "g.nxt")
    )
    counts = (
        bi.unionByName(tri)
        .groupBy("n", "ctx", "nxt")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("n", "ctx").orderBy(F.desc("cnt"), F.asc("nxt"))
    ctx_tot = counts.groupBy("n", "ctx").agg(
        F.sum("cnt").alias("ctx_total")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= NGRAM_LM_TOP_SUCCESSORS)
        .join(ctx_tot, ["n", "ctx"])
        .select(
            "n",
            "ctx",
            "nxt",
            "cnt",
            "ctx_total",
            "rank",
            (F.col("cnt").cast("double") / F.col("ctx_total")).alias(
                "cond_prob"
            ),
        )
    )


NGRAM_LM_COUNTS_SQL = f"""
WITH toks AS (
  SELECT regexp_split_to_array(lower(text), '{_TOKENIZE}') AS toks
  FROM documents
),
bi AS (
  SELECT 2 AS n, toks[i] AS ctx, toks[i + 1] AS nxt
  FROM toks, unnest(range(1, len(toks))) AS t(i)
),
tri AS (
  SELECT 3 AS n, toks[i] || ' ' || toks[i + 1] AS ctx, toks[i + 2] AS nxt
  FROM toks, unnest(range(1, len(toks) - 1)) AS t(i)
  WHERE len(toks) >= 3
),
counts AS (
  SELECT n, ctx, nxt, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT * FROM bi UNION ALL SELECT * FROM tri)
  GROUP BY n, ctx, nxt
),
ctx_tot AS (
  SELECT n, ctx, CAST(SUM(cnt) AS BIGINT) AS ctx_total
  FROM counts GROUP BY n, ctx
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY n, ctx ORDER BY cnt DESC, nxt ASC) AS rank
  FROM counts
)
SELECT r.n, r.ctx, r.nxt, r.cnt, c.ctx_total, CAST(r.rank AS INT) AS rank,
       CAST(r.cnt AS DOUBLE) / c.ctx_total AS cond_prob
FROM ranked r JOIN ctx_tot c ON r.n = c.n AND r.ctx = c.ctx
WHERE r.rank <= {NGRAM_LM_TOP_SUCCESSORS}
"""


POSTINGS_CAP = 20  # stored doc ids per term (df keeps the true count)


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized inverted index over the corpus: per term, document
    frequency, total term frequency, and the first {POSTINGS_CAP} doc
    ids in ascending order as a comma-joined postings preview (the full
    postings list would be the uncapped variant; df carries the true
    size so consumers can detect truncation).

    Shape: explode → (term, doc) count (hash agg); df/total_tf are plain
    partial-agg'd aggregates over that frame, and the postings head is
    CAPPED BEFORE aggregation — a (term ORDER BY doc_id) rank kept to
    {POSTINGS_CAP} compiles to WindowGroupLimit (map-side partial top-k),
    so no aggregation buffer ever holds more than CAP doc ids even for a
    stopword term that matches the whole corpus (an uncapped
    collect_set there is the classic skew bomb).  A positional index
    would partition postings by (term, doc-range) instead.
    """
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    pairs = docs.select("doc_id", F.explode(_tokens()).alias("term"))
    td = pairs.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).alias("tf")
    )
    stats = td.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("total_tf"),
    )
    w = Window.partitionBy("term").orderBy(F.asc("doc_id"))
    heads = (
        td.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= POSTINGS_CAP)
        .groupBy("term")
        .agg(
            F.concat_ws(
                ",",
                F.sort_array(F.collect_list("doc_id")).cast(
                    "array<string>"
                ),
            ).alias("postings_head")
        )
    )
    return stats.join(heads, "term").select(
        "term", "df", "total_tf", "postings_head"
    )


INVERTED_INDEX_SQL = f"""
WITH pairs AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '{_TOKENIZE}')) AS term
  FROM documents
),
td AS (
  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
  FROM pairs GROUP BY term, doc_id
)
SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
       CAST(SUM(tf) AS BIGINT) AS total_tf,
       array_to_string(
         list_sort(list(DISTINCT doc_id))[1 : {POSTINGS_CAP}], ',') AS postings_head
FROM td GROUP BY term
"""


_D38 = "decimal(38,0)"


def token_diversity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity profile per source: type-token ratio, Gini-
    Simpson diversity, and top-token concentration — the corpus-health
    metrics that flag template/boilerplate-dominated sources (low
    diversity, high top-share) before they pollute a training mixture.

    Deliberately Simpson, not Shannon: ``1 − Σc²/N²`` needs no
    logarithms, so every statistic is exact-integer moments with one
    final division — engine-portable without trusting either engine's
    ``log`` rounding (the Benford discipline).  Σc² runs in
    decimal(38,0)/HUGEINT: a 1e12-count token squares to 1e24 ≪ 1e38.

    Scale: explode → ONE (source, token) hash aggregate (map-side
    combinable, the dominant shuffle ~vocabulary-sized), then a
    source-sized rollup.  No windows, no joins.
    """
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "source", F.explode(_tokens()).alias("token")
    )
    per_token = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).alias("c")
    )
    agg = per_token.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(F.col("c").cast(_D38) * F.col("c").cast(_D38)).alias("sum_c2"),
        F.max("c").alias("max_c"),
    )
    n_d = agg["n_tokens"].cast("double")
    return agg.select(
        "source",
        "n_types",
        "n_tokens",
        pround(agg["n_types"].cast("double") / n_d, 6).alias(
            "type_token_ratio"
        ),
        pround(
            F.lit(1.0) - agg["sum_c2"].cast("double") / (n_d * n_d), 6
        ).alias("simpson_diversity"),
        pround(agg["max_c"].cast("double") / n_d, 6).alias("top_token_share"),
    )


TOKEN_DIVERSITY_BY_SOURCE_SQL = """
WITH tok AS (
  SELECT source, unnest(regexp_split_to_array(lower(text), '[ ]+')) AS token
  FROM documents
),
per_token AS (
  SELECT source, token, COUNT(*) AS c
  FROM tok GROUP BY source, token
),
agg AS (
  SELECT source,
         COUNT(*) AS n_types,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS sum_c2,
         MAX(c) AS max_c
  FROM per_token GROUP BY source
)
SELECT source, n_types, n_tokens,
       ROUND(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
         AS type_token_ratio,
       ROUND(1.0 - CAST(sum_c2 AS DOUBLE)
             / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)), 6)
         AS simpson_diversity,
       ROUND(CAST(max_c AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
         AS top_token_share
FROM agg
"""


COMMON_BIGRAM_PCT = 5  # a bigram is "common" if >= 5% of docs contain it


def bigram_coverage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document LM-coverage quality score (the count-based cousin of
    CCNet's perplexity filter): the share of a doc's DISTINCT bigrams
    that are "common" in the corpus (document frequency >=
    {COMMON_BIGRAM_PCT}% of docs).  Low coverage = unusual token
    transitions = likely noise/boilerplate/foreign material; the score
    feeds the same keep/drop decision a perplexity filter would, without
    a trained LM.

    Shape: per-doc distinct bigrams (narrow array transform + explode +
    distinct), ONE hash agg for corpus document frequency, join back on
    the bigram key, per-doc re-agg — two shuffles on corpus-cardinality
    keys, no windows, no Python.  The df >= pct * n_docs comparison is
    kept in INTEGER form (df * 100 >= pct * n_docs) and the score is a
    single IEEE division, so the oracle matches bit-for-bit.

    At 100 TB: the bigram df table is the hash-agg output (vocabulary²
    upper bound, Zipf-small in practice); everything joins on the bigram
    string — skew on ultra-common bigrams is bounded because the per-doc
    side is already distinct.
    """
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    toks_df = docs.select("doc_id", _tokens().alias("toks")).filter(
        F.size("toks") >= 2
    )
    doc_bg = (
        toks_df.select(
            "doc_id",
            F.explode(
                F.expr(
                    "zip_with(slice(toks, 1, size(toks) - 1),"
                    " slice(toks, 2, size(toks) - 1),"
                    " (a, b) -> concat(a, ' ', b))"
                )
            ).alias("bg"),
        )
        .distinct()
    )
    n_docs_df = toks_df.agg(F.count(F.lit(1)).alias("n_docs"))
    df_counts = doc_bg.groupBy("bg").agg(
        F.count(F.lit(1)).alias("doc_freq")
    )
    covered_flag = (
        doc_bg.join(df_counts, "bg")
        .crossJoin(F.broadcast(n_docs_df))
        .withColumn(
            "is_common",
            (
                F.col("doc_freq") * 100
                >= F.lit(COMMON_BIGRAM_PCT) * F.col("n_docs")
            ).cast("int"),
        )
    )
    return covered_flag.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("is_common").alias("covered"),
        (
            F.sum("is_common").cast("double") / F.count(F.lit(1))
        ).alias("coverage_score"),
    )


BIGRAM_COVERAGE_SCORES_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '[ ]+') AS t
  FROM documents
  WHERE len(regexp_split_to_array(lower(text), '[ ]+')) >= 2
), doc_bg AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i + 1])) AS bg
  FROM toks
), n AS (
  SELECT COUNT(*) AS n_docs FROM toks
), df AS (
  SELECT bg, COUNT(*) AS doc_freq FROM doc_bg GROUP BY bg
)
SELECT d.doc_id,
       COUNT(*) AS n_bigrams,
       CAST(SUM(CASE WHEN f.doc_freq * 100 >= {COMMON_BIGRAM_PCT} * n.n_docs
                     THEN 1 ELSE 0 END) AS BIGINT) AS covered,
       CAST(SUM(CASE WHEN f.doc_freq * 100 >= {COMMON_BIGRAM_PCT} * n.n_docs
                     THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS coverage_score
FROM doc_bg d JOIN df f USING (bg) CROSS JOIN n
GROUP BY d.doc_id
"""


# ---------------------------------------------------------------------------
# Count-LM perplexity scoring (CCNet-style quality filter): score every
# document by how well an add-one-smoothed bigram LM trained on the
# corpus itself predicts it.  High bits-per-token ⇒ the document is
# unlike the corpus (noise, boilerplate soup, foreign matter) — the
# canonical perplexity-filter signal, here with an ENGINE-EXACT
# quantization so the driver's strict double comparator holds.
# ---------------------------------------------------------------------------

PPX_BITS_THRESHOLD = 9.0  # flag docs whose quantized bits/token exceeds this


def _floor_log2(col: F.Column) -> F.Column:
    """EXACT floor(log2(n)) for a positive BIGINT column: the length of
    its binary string minus one (``bin`` exists with identical semantics
    in Spark and DuckDB).  No libm — ``log``/``log2`` differ across
    engines in the last ulp, which the strict comparator would see."""
    return (F.length(F.bin(col)) - F.lit(1)).cast("long")


def lm_perplexity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity proxy under an add-one bigram count LM.

    For each in-doc bigram (ctx, nxt) with corpus count ``cnt`` and
    context total ``ctx_total``, the smoothed probability is
    ``(cnt+1)/(ctx_total+V)``; the per-token cost is quantized to whole
    bits as ``floor(log2(ctx_total+V)) - floor(log2(cnt+1))`` — an
    integer within 1 bit of the true -log2 p, summed EXACTLY as BIGINT
    (float logprob sums are addition-order-dependent across engines; the
    integer surrogate is not).  ``bits_per_token`` is then ONE IEEE
    divide.  Production swap-in: replace ``_floor_log2`` with
    ``F.log2`` for fractional bits — same plan, same shuffles.

    Shape: bigram construction is a narrow array transform; the model
    (bigram counts + context totals) is ONE hash agg each over the same
    exploded frame; V is a 1-row broadcast.  The doc-bigrams ⋈ model
    join shuffles on the bigram key — vocabulary-scaled, so a plain
    shuffle join by design (AQE broadcasts it when the model actually
    fits).  Mirrors the reference's text-scoring role (no direct
    reference twin; north-star curation op).
    """
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", _tokens().alias("toks")).filter(
        F.size("toks") >= 2
    )
    pairs = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(toks, 1, size(toks) - 1),"
                " slice(toks, 2, size(toks) - 1),"
                " (a, b) -> struct(a as ctx, b as nxt))"
            )
        ).alias("g"),
    ).select("doc_id", "g.ctx", "g.nxt")
    counts = pairs.groupBy("ctx", "nxt").agg(F.count(F.lit(1)).alias("cnt"))
    tot = counts.groupBy("ctx").agg(F.sum("cnt").alias("ctx_total"))
    vocab = (
        docs.select(F.explode(_tokens()).alias("token"))
        .agg(F.count_distinct("token").alias("v_size"))
    )
    model = counts.join(tot, "ctx")
    bits = _floor_log2(F.col("ctx_total") + F.col("v_size")) - _floor_log2(
        F.col("cnt") + F.lit(1)
    )
    per_doc = (
        pairs.join(model, ["ctx", "nxt"])
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(bits).alias("sum_bits"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        "sum_bits",
        (F.col("sum_bits").cast("double") / F.col("n_bigrams")).alias(
            "bits_per_token"
        ),
        (
            F.col("sum_bits").cast("double") / F.col("n_bigrams")
            > PPX_BITS_THRESHOLD
        )
        .cast("int")
        .alias("high_ppx_flag"),
    )


LM_PERPLEXITY_SCORES_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '{_TOKENIZE}') AS t
  FROM documents
  WHERE len(regexp_split_to_array(lower(text), '{_TOKENIZE}')) >= 2
),
pairs AS (
  SELECT doc_id, t[i] AS ctx, t[i + 1] AS nxt
  FROM toks, unnest(range(1, len(t))) AS u(i)
),
counts AS (
  SELECT ctx, nxt, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM pairs GROUP BY ctx, nxt
),
tot AS (
  SELECT ctx, CAST(SUM(cnt) AS BIGINT) AS ctx_total FROM counts GROUP BY ctx
),
vocab AS (
  SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v_size
  FROM (SELECT unnest(regexp_split_to_array(lower(text), '{_TOKENIZE}')) AS token
        FROM documents)
),
per_doc AS (
  SELECT p.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM( (length(bin(t.ctx_total + v.v_size)) - 1)
                 - (length(bin(c.cnt + 1)) - 1) ) AS BIGINT) AS sum_bits
  FROM pairs p
  JOIN counts c ON p.ctx = c.ctx AND p.nxt = c.nxt
  JOIN tot t ON p.ctx = t.ctx
  CROSS JOIN vocab v
  GROUP BY p.doc_id
)
SELECT doc_id, n_bigrams, sum_bits,
       CAST(sum_bits AS DOUBLE) / n_bigrams AS bits_per_token,
       CAST(CAST(sum_bits AS DOUBLE) / n_bigrams > {PPX_BITS_THRESHOLD}
            AS INT) AS high_ppx_flag
FROM per_doc
"""


ORACLES: dict[str, str] = {
    "lm_perplexity_scores": LM_PERPLEXITY_SCORES_SQL,
    "bigram_coverage_scores": BIGRAM_COVERAGE_SCORES_SQL,
    "token_diversity_by_source": TOKEN_DIVERSITY_BY_SOURCE_SQL,
    "inverted_index": INVERTED_INDEX_SQL,
    "ngram_lm_counts": NGRAM_LM_COUNTS_SQL,
    "pii_scrub": PII_SCRUB_SQL,
    "unigram_freq_scores": UNIGRAM_FREQ_SCORES_SQL,
    "text_quality": TEXT_QUALITY_SQL,
    "lang_id": LANG_ID_SQL,
    "token_counts_by_source": TOKEN_COUNTS_BY_SOURCE_SQL,
    "bpe_token_stats": BPE_TOKEN_STATS_SQL,
    "doc_fingerprints": DOC_FINGERPRINTS_SQL,
    "tfidf_top_terms": TFIDF_TOP_TERMS_SQL,
    "doc_repetition_stats": DOC_REPETITION_STATS_SQL,
    "phrase_candidates": PHRASE_CANDIDATES_SQL,
}

QUERIES = {
    "lm_perplexity_scores": lm_perplexity_scores,
    "bigram_coverage_scores": bigram_coverage_scores,
    "token_diversity_by_source": token_diversity_by_source,
    "bm25_topk": bm25_topk,
    "inverted_index": inverted_index,
    "ngram_lm_counts": ngram_lm_counts,
    "pii_scrub": pii_scrub,
    "unigram_freq_scores": unigram_freq_scores,
    "text_quality": text_quality,
    "lang_id": lang_id,
    "token_counts_by_source": token_counts_by_source,
    "bpe_token_stats": bpe_token_stats,
    "doc_fingerprints": doc_fingerprints,
    "tfidf_top_terms": tfidf_top_terms,
    "doc_repetition_stats": doc_repetition_stats,
    "phrase_candidates": phrase_candidates,
}
