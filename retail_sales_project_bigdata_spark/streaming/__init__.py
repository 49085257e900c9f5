"""Structured Streaming surface over the ``events`` table (SURVEY §2.9 —
absent from the reference; north-star extension).

Streaming queries run the parquet file through ``readStream`` → windowed
aggregation → memory sink, driven to completion with
``processAllAvailable()`` so a batch DataFrame of the final result comes
back — which makes the tumbling-window query *oracle-checkable* (complete
mode over a bounded source equals the batch ``date_trunc`` rollup).

Scale: in production the same plans run against Kafka with watermarks
bounding state; the watermark/sliding variant exercises exactly that state
path (append mode + late-data eviction).
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from retail_sales_project_bigdata_spark.functions import pround
from retail_sales_project_bigdata_spark.schemas import TESTDATA_SCHEMAS

_counter = itertools.count()

# events.parquet has shipped ``ts`` both as INT64 TIMESTAMP(NANOS) — read
# as raw nanos long — and as plain microsecond TIMESTAMP (read as
# TIMESTAMP_NTZ).  readStream needs an explicit schema:
# ``sources.with_events_schema`` picks the branch from the footer on the
# driver (no Spark job) and scopes ``nanosAsLong`` to this one source, so
# the session conf is never touched.
def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from retail_sales_project_bigdata_spark.sources import with_events_schema

    reader, nanos = with_events_schema(
        spark.readStream.option("pathGlobFilter", "events.parquet").option(
            "maxFilesPerTrigger", 1
        ),
        os.path.join(sf_dir, "events.parquet"),
    )
    if nanos:
        ts = F.timestamp_micros(F.expr("ts DIV 1000"))
    else:
        ts = F.col("ts").cast("timestamp")
    return reader.parquet(sf_dir).select(
        "event_id",
        ts.alias("ts"),
        "user_id",
        "event_type",
        "value",
    )


# Stateful-operator parallelism: every stateful streaming op creates one
# state store PER shuffle partition PER microbatch, so state partitions
# must be sized to STREAM volume, not the batch session default — with 32
# partitions the stream-stream join spent 4× its runtime on state-store
# init/commit for near-empty partitions.  In production this is
# throughput-sized at stream start (it is fixed for the life of the
# checkpoint); 8 matches the bounded local microbatches.
STREAM_STATE_PARTITIONS = 8


def _run_to_memory(agg: DataFrame, mode: str) -> str:
    """Drain the bounded stream into a memory sink and return the name
    of the temp view that holds its output (``registry.query_scope``
    drops the view with the query's other state)."""
    name = f"stream_out_{next(_counter)}"
    spark = agg.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS)
    )
    q = None
    try:
        q = (
            agg.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        q.processAllAvailable()
    finally:
        if q is not None:
            q.stop()  # always release stream state, even on failure
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return name


def streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type, complete mode.

    Over the bounded events file this equals the batch hourly rollup, so
    the driver's DuckDB oracle (``date_trunc('hour', ts)``) checks the
    whole streaming path end-to-end: source → window agg → sink.
    """
    ev = _events_stream(spark, sf_dir)
    agg = ev.groupBy(
        F.window("ts", "1 hour").alias("win"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        pround(F.sum("value"), 4).alias("total_value"),
    )
    name = _run_to_memory(agg, "complete")
    return spark.table(name).select(
        F.col("win.start").alias("hour_start"),
        "event_type",
        "n_events",
        "total_value",
    )


STREAMING_HOURLY_COUNTS_SQL = """
SELECT date_trunc('hour', ts) AS hour_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS total_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


def streaming_sliding_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h length, 30 min slide) with a 10-minute
    watermark — append mode, so only watermark-finalized windows emit.
    Rows-only: the late-data eviction semantics are streaming-specific by
    design (that's the point of the query)."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            pround(F.sum("value"), 4).alias("total_value"),
        )
    )
    name = _run_to_memory(agg, "append")
    return spark.table(name).select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        "n_events",
        "total_value",
    )


def streaming_user_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unwindowed running aggregation per (user, event_type) in complete
    mode — the stateful-aggregation path without event-time windows.
    Equals the batch groupBy over a bounded source → oracle-checkable."""
    ev = _events_stream(spark, sf_dir)
    agg = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        pround(F.sum("value"), 4).alias("total_value"),
    )
    name = _run_to_memory(agg, "complete")
    return spark.table(name)


STREAMING_USER_EVENT_COUNTS_SQL = """
SELECT user_id, event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS total_value
FROM events
GROUP BY user_id, event_type
"""


def streaming_stateful_user_sessions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (event count, value sum, session count with a 30-minute gap
    rule) maintained in explicit state across micro-batches — the escape
    hatch for operators Spark's built-in aggregations can't express
    (here: gap-based session counting inside a stream).

    Update-mode rows-only query (state evolution is the point); final
    per-user totals are property-tested against the batch sessionizer.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = _events_stream(spark, sf_dir)

    def track(key, pdfs, state: GroupState):
        import pandas as pd

        n, total, sessions, last_us = (
            state.get if state.exists else (0, 0.0, 0, -1)
        )
        # Concatenate the batch's chunks BEFORE sorting: chunks arrive in
        # shuffle order (and Arrow-batch-size slices), so sorting each
        # chunk independently would fold events out of time order —
        # negative gaps never open sessions and drag last_us backward.
        # State still carries across BATCHES; within a batch one global
        # sort restores event-time order.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            batch = pd.concat(chunks, ignore_index=True).sort_values("ts")
            for ts in batch["ts"]:
                ts_us = int(ts.value // 1000)  # pandas Timestamp ns → µs
                if last_us < 0 or ts_us - last_us > 30 * 60 * 1_000_000:
                    sessions += 1
                last_us = ts_us
            n += len(batch)
            total += float(batch["value"].sum())
        state.update((n, total, sessions, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(total, 4)],
                "n_sessions": [sessions],
            }
        )

    agg = ev.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType="user_id long, n_events long, total_value double,"
        " n_sessions long",
        stateStructType="n long, total double, sessions long, last_us long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = _run_to_memory(agg, "update")
    # keep the final (largest n_events) state row per user
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        spark.table(name)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def streaming_purchase_view_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: each purchase joined to the same
    user's views from the preceding 30 minutes, watermarks on BOTH sides
    so the join state is bounded (Spark evicts view state older than the
    watermark minus the interval — the production Kafka shape).

    An INNER stream-stream join over a bounded source emits exactly the
    batch equi+range join result, so this streaming query is
    oracle-exact; the watermark changes only state retention, never the
    inner-join output."""
    ev = _events_stream(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_event_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_event_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "10 minutes")
    )
    joined = purchases.join(
        views,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (
            F.col("view_ts")
            >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES")
        ),
        "inner",
    )
    out = joined.select(
        "purchase_event_id",
        "view_event_id",
        "user_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("view_ts")).alias(
            "gap_us"
        ),
    )
    name = _run_to_memory(out, "append")
    return spark.table(name)


STREAMING_PURCHASE_VIEW_JOIN_SQL = """
WITH ev AS (
  SELECT event_id, user_id, epoch_us(ts) AS us, event_type FROM events
)
SELECT p.event_id AS purchase_event_id,
       v.event_id AS view_event_id,
       p.user_id,
       p.us - v.us AS gap_us
FROM (SELECT * FROM ev WHERE event_type = 'purchase') p
JOIN (SELECT * FROM ev WHERE event_type = 'view') v
  ON p.user_id = v.user_id
 AND v.us <= p.us
 AND v.us >= p.us - 30 * 60 * 1000000
"""


def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication with watermark-bounded state
    (``dropDuplicatesWithinWatermark``): the input is the events stream
    UNIONED with a second read of itself — every event arrives (at
    least) twice, possibly in different micro-batches — and exactly one
    copy per ``event_id`` must come out.

    This is the streaming twin of the batch ``dedup_exact`` family: at
    Kafka scale the dedup state cannot grow forever, so the watermark
    evicts keys older than the delay; duplicates arriving later than
    that are dropped by the late-data filter instead — either way the
    output holds one copy, which is why the query stays ORACLE-EXACT
    (``SELECT * FROM events``) over a bounded source.
    """
    doubled = _events_stream(spark, sf_dir).unionByName(
        _events_stream(spark, sf_dir)
    )
    deduped = doubled.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out = deduped.select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )
    name = _run_to_memory(out, "append")
    return spark.table(name)


STREAMING_DEDUP_EVENTS_SQL = """
SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
FROM events
"""


def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows INSIDE Structured Streaming: the same
    30-minute-gap ``session_window`` as the batch
    ``session_window_stats``, with a 10-minute watermark bounding merge
    state.  Append mode — a session emits only once the watermark passes
    its end, so sessions still open at end-of-stream stay in state:
    emitted rows are a strict subset of the batch answer, and the
    only missing sessions end inside the final watermark tail (both
    halves property-tested)."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("sw")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            pround(F.sum("value"), 4).alias("total_value"),
        )
    )
    name = _run_to_memory(agg, "append")
    return spark.table(name).select(
        "user_id",
        F.unix_micros("sw.start").alias("start_us"),
        F.unix_micros("sw.end").alias("end_us"),
        "n_events",
        "total_value",
    )


def streaming_segment_event_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-static enrichment join: the event stream joins the static
    customer dimension (events.user_id ⊆ customer.c_custkey in the
    testdata), then rolls up per (market segment, event type).

    Stream-static inner joins are STATELESS — each micro-batch probes the
    static side with no watermark and no state store, and the dim side
    carries its broadcast hint, so at production scale every executor
    probes a local hash map instead of shuffling the stream.  Over the
    bounded source, complete mode equals the batch join+rollup — exact
    DuckDB oracle."""
    from retail_sales_project_bigdata_spark.sources import read_table

    ev = _events_stream(spark, sf_dir)
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    agg = (
        ev.join(cust, ev.user_id == cust.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            pround(F.sum("value"), 4).alias("total_value"),
        )
    )
    name = _run_to_memory(agg, "complete")
    return spark.table(name).select(
        "c_mktsegment", "event_type", "n_events", "total_value"
    )


STREAMING_SEGMENT_EVENT_COUNTS_SQL = """
SELECT c.c_mktsegment, e.event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(e.value), 4) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment, e.event_type
"""


def stream_cdc_upsert_parquet(
    events: DataFrame, target_dir: str, checkpoint_dir: str
):
    """Streaming MERGE: maintain a per-user latest-state table (last event
    + running event count) in versioned parquet via ``foreachBatch``.

    Each micro-batch reduces to one row per user (``max_by`` on
    ``(ts, event_id)`` — deterministic under ties) and full-outer merges
    it with the previous snapshot, CDC-upsert style: counts add, the
    newer of (previous last, batch last) wins by event time — correct
    even when a later batch delivers older events.

    Exactly-once without a lakehouse format: batch *k* ALWAYS reads
    snapshot ``v=k`` and overwrites ``v=k+1``, then flips the
    ``_CURRENT`` manifest.  A replayed batch recomputes the identical
    merge from the still-intact previous version and clobbers only its
    own output — the same idempotency argument as
    :func:`write_stream_idempotent_parquet`, extended to stateful
    accumulation.  Readers resolve ``_CURRENT`` and never see a torn
    snapshot; old versions stay addressable for time travel.

    Scale: the merge is a key-partitioned full-outer join of two
    user-grained frames (micro-batch state × snapshot) — no fact-sized
    shuffle, and the snapshot rewrite is the standard copy-on-write
    trade lakehouse MERGE makes.  Returns the started StreamingQuery.
    """

    def merge_batch(df: DataFrame, batch_id: int) -> None:
        spark = df.sparkSession
        batch_state = (
            df.groupBy("user_id")
            .agg(
                F.max_by(
                    F.struct("ts", "event_id", "event_type", "value"),
                    F.struct("ts", "event_id"),
                ).alias("last"),
                F.count(F.lit(1)).alias("n_events"),
            )
            .select(
                "user_id",
                F.col("last.ts").alias("last_ts"),
                F.col("last.event_id").alias("last_event_id"),
                F.col("last.event_type").alias("last_event_type"),
                F.col("last.value").alias("last_value"),
                "n_events",
            )
        )
        prev_path = os.path.join(target_dir, f"v={batch_id}")
        if batch_id > 0 and os.path.exists(prev_path):
            prev = spark.read.parquet(prev_path)
            b, p = batch_state.alias("b"), prev.alias("p")
            batch_wins = F.col("p.last_ts").isNull() | (
                F.col("b.last_ts").isNotNull()
                & (
                    F.struct(F.col("b.last_ts"), F.col("b.last_event_id"))
                    > F.struct(F.col("p.last_ts"), F.col("p.last_event_id"))
                )
            )
            merged = b.join(p, "user_id", "full_outer").select(
                "user_id",
                *[
                    F.when(batch_wins, F.col(f"b.{c}"))
                    .otherwise(F.col(f"p.{c}"))
                    .alias(c)
                    for c in (
                        "last_ts",
                        "last_event_id",
                        "last_event_type",
                        "last_value",
                    )
                ],
                (
                    F.coalesce(F.col("b.n_events"), F.lit(0))
                    + F.coalesce(F.col("p.n_events"), F.lit(0))
                ).alias("n_events"),
            )
        else:
            merged = batch_state
        merged.write.mode("overwrite").parquet(
            os.path.join(target_dir, f"v={batch_id + 1}")
        )
        from retail_sales_project_bigdata_spark.sources import flip_manifest

        flip_manifest(target_dir, batch_id + 1)

    os.makedirs(target_dir, exist_ok=True)
    return (
        events.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def write_stream_idempotent_parquet(
    agg_stream: DataFrame, out_dir: str, checkpoint_dir: str
):
    """Durable streaming sink (exactly-once parquet via ``foreachBatch``).

    Structured Streaming's contract is at-least-once per micro-batch on
    failure/restart: ``foreachBatch`` may REPLAY a ``batch_id`` whose
    write already (partially) happened.  Writing each batch to its own
    ``batch_id=N`` directory with ``mode("overwrite")`` makes the replay
    idempotent — a retried batch clobbers its own partial output and
    never touches other batches' directories, so downstream readers of
    ``out_dir`` (a hive-partitioned parquet table) see each input row
    exactly once.  The checkpoint dir carries source offsets, so a
    restarted query resumes instead of re-reading history.

    Returns the started StreamingQuery (caller drives + stops it).
    """

    def write_batch(df: DataFrame, batch_id: int) -> None:
        target = os.path.join(out_dir, f"batch_id={batch_id}")
        df.write.mode("overwrite").parquet(target)

    return (
        agg_stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def ingest_available_now(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Incremental batch ingest with ``Trigger.AvailableNow`` — the
    scheduled-ETL pattern that replaces hand-rolled "which files are new?"
    bookkeeping at scale.

    Each invocation starts a streaming query that processes exactly the
    files not yet recorded in the checkpoint's source file log, commits
    them to ``out_dir``, and terminates.  Re-running after new files land
    picks up ONLY those files; re-running with nothing new is a no-op.
    Unlike ``Trigger.Once`` it respects ``maxFilesPerTrigger`` and splits
    the backlog into multiple micro-batches, so a first run over a huge
    directory doesn't build one giant batch plan.  State (the file log +
    sink commit log) lives entirely in ``checkpoint_dir`` — restarts are
    exactly-once.
    """
    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(src_dir)
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_corpus_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus-ingest quality gate: documents arrive as a file
    stream (the JSONL/parquet drop-folder pattern of a continuous crawl
    ingest), each micro-batch computes the text_quality signals per row
    (pure narrow map — same expressions as the batch operator), and a
    complete-mode aggregate tracks per-source totals: docs seen, docs
    passing the quality rule, tokens kept.

    Oracle == the batch semantics over the same (bounded) input — proves
    the streaming pipeline computes exactly what the batch pipeline
    would, which is the contract a lambda-architecture ingest must hold.
    """
    from retail_sales_project_bigdata_spark.operators.textstats import (
        STOPWORDS,
    )

    raw = (
        spark.readStream.schema(TESTDATA_SCHEMAS["documents"])
        .option("pathGlobFilter", "documents.parquet")
        .option("maxFilesPerTrigger", 1)
        .parquet(sf_dir)
    )
    toks = F.split(F.lower(F.col("text")), "[ ]+")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    feats = raw.select(
        "source",
        F.size(toks).alias("n_tokens"),
        F.size(
            F.filter(toks, lambda t: F.array_contains(stop_arr, t))
        ).alias("n_stopwords"),
    ).select(
        "source",
        "n_tokens",
        F.when(
            (F.col("n_tokens") >= 10)
            & (F.col("n_stopwords") / F.col("n_tokens") < 0.5),
            1,
        )
        .otherwise(0)
        .alias("is_quality"),
    )
    agg = feats.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("is_quality").alias("n_quality"),
        F.sum(
            F.when(F.col("is_quality") == 1, F.col("n_tokens")).otherwise(0)
        ).alias("quality_tokens"),
    )
    name = _run_to_memory(agg, "complete")
    return spark.table(name)


STREAMING_CORPUS_QUALITY_SQL = """
WITH feats AS (
  SELECT source,
         len(regexp_split_to_array(lower(text), '[ ]+')) AS n_tokens,
         CASE WHEN len(regexp_split_to_array(lower(text), '[ ]+')) >= 10
                   AND CAST(len(list_filter(
                         regexp_split_to_array(lower(text), '[ ]+'),
                         t -> t IN ('the', 'a', 'of', 'and', 'to', 'in')))
                       AS DOUBLE)
                       / len(regexp_split_to_array(lower(text), '[ ]+')) < 0.5
              THEN 1 ELSE 0 END AS is_quality
  FROM documents
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(is_quality) AS BIGINT) AS n_quality,
       CAST(SUM(CASE WHEN is_quality = 1 THEN n_tokens ELSE 0 END) AS BIGINT)
         AS quality_tokens
FROM feats GROUP BY source
"""


def streaming_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online ANN — the streaming leg of the similarity stack: a stream
    of query embeddings is stream-static joined against the LSH-bucketed
    corpus (same deterministic hyperplane buckets as the batch
    ``ann_lsh_topk``), exact-cosine scored in the join projection, and a
    per-query TOP-{10} is maintained in EXPLICIT BOUNDED STATE via
    ``applyInPandasWithState`` — K (cosine, neighbor) entries per query
    key, merged per micro-batch, regardless of how many candidates the
    stream ever delivers.  That bounded-merge state is what a complete-
    mode ``collect_list`` could not give (its state grows with total
    candidates); this is the 100 TB-posture design for "queries arrive
    forever, corpus is the big static side".

    Rows-only (streams have no SQL oracle); property-tested equal to the
    batch ``ann_lsh_topk`` result — same buckets, same rounded-cosine
    ranking, same (desc cosine, asc neighbor) tie order.
    """

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from retail_sales_project_bigdata_spark.operators.similarity import (
        N_QUERY_VECS,
        TOP_K,
        _bucket_expr,
        _dot_expr,
        _vectors,
    )

    corpus = (
        _vectors(spark, sf_dir)
        .withColumn("bucket", _bucket_expr())
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("v").alias("c_v"),
            F.col("norm").alias("c_norm"),
            "bucket",
        )
    )
    raw = (
        spark.readStream.schema(TESTDATA_SCHEMAS["embeddings"])
        .option("pathGlobFilter", "embeddings.parquet")
        .option("maxFilesPerTrigger", 1)
        .parquet(sf_dir)
    )
    q = (
        raw.filter(F.col("vec_id") < N_QUERY_VECS)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").cast("array<double>").alias("q_v"),
        )
        .withColumn("q_norm", F.sqrt(_dot_expr("q_v", "q_v")))
        .withColumn("q_bucket", _bucket_expr("q_v"))
    )
    cand = q.join(
        corpus,
        (F.col("q_bucket") == F.col("bucket"))
        & (F.col("q_id") != F.col("neighbor_id")),
    ).select(
        "q_id",
        "neighbor_id",
        pround(
            _dot_expr("q_v", "c_v") / (F.col("q_norm") * F.col("c_norm")),
            6,
        ).alias("cosine"),
    )

    def topk(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            cos, nid, n_seen = state.get
            cur = list(zip(cos, nid))
        else:
            cur, n_seen = [], 0
        for pdf in pdfs:
            if len(pdf):
                n_seen += len(pdf)
                cur.extend(
                    zip(pdf["cosine"].tolist(), pdf["neighbor_id"].tolist())
                )
        # rounded cosine desc, neighbor id asc — the batch twin's order
        cur.sort(key=lambda t: (-t[0], t[1]))
        cur = cur[:TOP_K]
        state.update(
            (
                [float(c) for c, _ in cur],
                [int(n) for _, n in cur],
                n_seen,
            )
        )
        yield pd.DataFrame(
            {
                "q_id": [int(key[0])] * len(cur),
                "neighbor_id": [int(n) for _, n in cur],
                "cosine": [float(c) for c, _ in cur],
                "rank": list(range(1, len(cur) + 1)),
                "n_seen": [n_seen] * len(cur),
            }
        )

    agg = cand.groupBy("q_id").applyInPandasWithState(
        topk,
        outputStructType=(
            "q_id long, neighbor_id long, cosine double, rank int,"
            " n_seen long"
        ),
        stateStructType="cos array<double>, nid array<long>, n_seen long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = _run_to_memory(agg, "update")
    # update mode re-emits a query's snapshot whenever its state changes;
    # the row set with the LARGEST n_seen is the final top-k per query
    from pyspark.sql.window import Window

    w = Window.partitionBy("q_id")
    return (
        spark.table(name)
        .withColumn("max_seen", F.max("n_seen").over(w))
        .filter(F.col("n_seen") == F.col("max_seen"))
        .select("q_id", "neighbor_id", "cosine", "rank")
    )


def streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental corpus dedup — the stream-static twin of
    ``operators.dedup.incremental_dedup_new_docs``: new documents arrive
    as a file stream (the drop-folder ingest pattern), each row is
    fingerprinted (md5) and LEFT-joined against the STATIC corpus
    fingerprint set — the only state an incremental dedup carries at
    100 TB (16 bytes per ingested doc, broadcast); a complete-mode
    aggregate tracks the dedup funnel per class: rows seen, distinct
    fingerprints, novel docs, in-batch duplicates.

    Oracle == the batch semantics over the bounded source (exact — the
    funnel is pure counting on deterministic fingerprints).  Scale note:
    ``collect_set(fp)`` state grows with the new batch's DISTINCT
    fingerprints — per-ingest-window state, reset when the window's
    fingerprints merge into the corpus set; swap in
    ``approx_count_distinct`` when only the funnel is needed.
    """
    from retail_sales_project_bigdata_spark.sources import read_table

    raw = (
        spark.readStream.schema(TESTDATA_SCHEMAS["documents"])
        .option("pathGlobFilter", "documents.parquet")
        .option("maxFilesPerTrigger", 1)
        .parquet(sf_dir)
    )
    new_batch = raw.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("fp")
    )
    corpus_fps = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 != 0)
        .select(F.md5(F.col("text").cast("binary")).alias("fp"))
        .distinct()
        .withColumn("in_corpus", F.lit(1))
    )
    joined = new_batch.join(F.broadcast(corpus_fps), "fp", "left")
    agg = joined.groupBy(
        F.when(F.col("in_corpus") == 1, "dup_of_corpus")
        .otherwise("new")
        .alias("dedup_class")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.collect_set("fp").alias("_fps"),
    )
    out = agg.select(
        "dedup_class",
        "n_rows",
        F.size("_fps").alias("distinct_fps"),
        F.when(F.col("dedup_class") == "new", F.size("_fps"))
        .otherwise(F.lit(0))
        .alias("novel"),
        (F.col("n_rows") - F.size("_fps")).alias("dup_in_batch"),
    )
    name = _run_to_memory(out, "complete")
    return spark.table(name)


STREAMING_INCREMENTAL_DEDUP_SQL = """
WITH fps AS (SELECT doc_id, md5(text) AS fp FROM documents),
corpus AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 5 <> 0),
nb AS (
  SELECT n.doc_id, n.fp,
         CASE WHEN c.fp IS NOT NULL THEN 'dup_of_corpus' ELSE 'new' END
           AS dedup_class
  FROM (SELECT doc_id, fp FROM fps WHERE doc_id % 5 = 0) n
  LEFT JOIN corpus c ON n.fp = c.fp
)
SELECT dedup_class,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT fp) AS INT) AS distinct_fps,
       CAST(CASE WHEN dedup_class = 'new' THEN COUNT(DISTINCT fp)
                 ELSE 0 END AS INT) AS novel,
       CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS dup_in_batch
FROM nb GROUP BY dedup_class
"""


def streaming_incremental_near_dup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming incremental NEAR-dup — the stream-static twin of
    ``operators.dedup.incremental_near_dup_new_docs``: new documents
    arrive as a file stream, are shingled and prefix-sliced map-side
    (higher-order functions, no state), and probe a STATIC corpus-side
    prefix index — at 100 TB that index is maintained alongside the
    corpus fingerprints and is the only thing the stream touches.
    Candidates verify exactly via
    ``array_intersect`` inside the stream-static join; a complete-mode
    aggregate emits one row per MATCHED new doc (match count via
    ``collect_set`` — candidate rows repeat per matching prefix token,
    so the set dedups them; best match via a deterministic
    ``max(struct(jaccard, -doc_id))``).  Novel docs emit nothing — the
    exact-hash funnel twin (``streaming_incremental_dedup``) owns
    novelty accounting.

    The global canonical order here is pure md5 (not the batch twin's
    document-frequency order): ANY total order keeps the prefix lemma
    lossless, and md5 order makes the per-doc prefix a MAP-SIDE
    ``array_sort`` + slice on BOTH sides — the stream computes its own
    prefix statelessly (no frequency join, no ranking window anywhere),
    the corpus index is a map-only projection of the shared shingle
    cache, and the positional filter applies with positions from the
    slice.  The trade: frequency order minimizes candidates on
    skewed-vocabulary corpora; md5 order spends a few more collisions
    to keep the streaming path free of corpus-wide shuffles.
    Candidates differ from the batch twin; verified matches are
    identical — property-tested equal to its near-dup rows.
    """
    from retail_sales_project_bigdata_spark.operators.dedup import (
        _PF_ALPHA_RATIO,
        _PF_EPS,
        _shingle_expr,
        _shingles,
        _TOKENIZE,
        JACCARD_THRESHOLD,
        SHINGLE_K,
    )

    def _md5_prefix(shingles_col: str):
        """(pos, entry) rows of the doc's prefix under md5 order —
        map-only: sort the shingle array by (md5, shingle), slice the
        prefix, posexplode for positions."""
        sorted_expr = (
            f"array_sort(transform({shingles_col},"
            " x -> struct(md5(cast(x as binary)) AS k, x AS s)))"
        )
        n = F.size(shingles_col)
        plen = (
            n
            - F.ceil(F.lit(JACCARD_THRESHOLD) * n - F.lit(_PF_EPS))
            + F.lit(1)
        )
        return F.posexplode(F.slice(F.expr(sorted_expr), F.lit(1), plen))

    # Corpus side reuses the batch family's persisted shingle frame (one
    # scan+shingle pipeline shared with every dedup query in the session).
    corpus = _shingles(spark, sf_dir).filter(F.col("doc_id") % 5 != 0)
    index = corpus.select(
        F.col("doc_id").alias("d_corpus"),
        F.size("shingles").alias("nb"),
        _md5_prefix("shingles").alias("pos", "entry"),
    ).select(
        "d_corpus",
        "nb",
        (F.col("pos") + 1).alias("rk_b"),
        F.col("entry.s").alias("s"),
    )
    # The prefix index is consumed once per micro-batch trigger; without
    # a cache boundary each trigger re-runs the static corpus subplan
    # (scan → tokenize → shingle → md5-sort → prefix posexplode — the
    # md5-order rewrite removed the old freq agg + rank window, but the
    # re-shingling alone is the most expensive expression in the plan).
    # Persist BEFORE the downstream join/aggregate plans are built from
    # it, so the cache dependency is explicit in the child plans rather
    # than relying on CacheManager plan-matching; released when the
    # bounded run completes (finally below).
    index = index.persist()
    corpus_sh = corpus.select(
        F.col("doc_id").alias("d_corpus"), F.col("shingles").alias("sh2")
    )

    raw = (
        spark.readStream.schema(TESTDATA_SCHEMAS["documents"])
        .option("pathGlobFilter", "documents.parquet")
        .option("maxFilesPerTrigger", 1)
        .parquet(sf_dir)
    )
    new_docs = (
        raw.filter(F.col("doc_id") % 5 == 0)
        .select(
            F.col("doc_id").alias("d_new"),
            F.split(F.lower(F.col("text")), _TOKENIZE).alias("toks"),
        )
        .filter(F.size("toks") >= SHINGLE_K)
        .select("d_new", _shingle_expr("toks").alias("sh1"))
        .withColumn("na", F.size("sh1"))
    )
    # sh1 rides along once per exploded PREFIX shingle (~n/2 rows/doc):
    # the single streaming aggregation is spent on the final per-doc
    # summary, so candidate pairs cannot be deduplicated stream-side and
    # the exact verify must travel with each probe row.  Bounded: random
    # prefix collisions contribute 1-2 rows per (new, corpus) pair; only
    # TRUE near-dups repeat up to |prefix| times — output-sized.
    probes = new_docs.select(
        "d_new",
        "na",
        "sh1",
        _md5_prefix("sh1").alias("pos", "entry"),
    ).select(
        "d_new",
        "na",
        "sh1",
        (F.col("pos") + 1).alias("rk_a"),
        F.col("entry.s").alias("s"),
    )
    alpha = F.ceil(
        F.lit(_PF_ALPHA_RATIO) * (F.col("na") + F.col("nb"))
        - F.lit(_PF_EPS)
    )
    cand = probes.join(
        index,
        (probes.s == index.s)
        & (
            F.lit(JACCARD_THRESHOLD) * F.col("na")
            <= F.col("nb") + F.lit(_PF_EPS)
        )
        & (
            F.lit(JACCARD_THRESHOLD) * F.col("nb")
            <= F.col("na") + F.lit(_PF_EPS)
        )
        & (
            (
                F.lit(1)
                + F.least(
                    F.col("na") - F.col("rk_a"),
                    F.col("nb") - F.col("rk_b"),
                )
            )
            >= alpha
        ),
    )
    verified = (
        cand.join(corpus_sh, "d_corpus")
        .withColumn(
            "n_common",
            F.size(F.array_intersect("sh1", "sh2")).cast("long"),
        )
        .withColumn(
            "jaccard_raw",
            F.col("n_common")
            / (F.col("na") + F.col("nb") - F.col("n_common")),
        )
        .filter(F.col("jaccard_raw") >= JACCARD_THRESHOLD)
    )
    agg = verified.groupBy("d_new").agg(
        F.collect_set("d_corpus").alias("_matches"),
        F.max(
            F.struct(
                F.col("jaccard_raw").alias("j"),
                (-F.col("d_corpus")).alias("neg_id"),
            )
        ).alias("_best"),
    )
    out = agg.select(
        F.col("d_new").alias("doc_id"),
        # long, matching the batch twin's COUNT(*) BIGINT dtype-exactly
        F.size("_matches").cast("long").alias("n_corpus_matches"),
        (-F.col("_best.neg_id")).cast("long").alias("best_match_doc_id"),
        pround("_best.j", 6).alias("best_jaccard"),
    )
    try:
        name = _run_to_memory(out, "complete")
    finally:
        index.unpersist()
    return spark.table(name)


def _streaming_incremental_near_dup_sql() -> str:
    """Oracle: the batch twin's SQL restricted to its matched rows —
    over the bounded source the stream emits exactly the batch twin's
    near-dup summaries (property-tested), so the oracle reuses that
    pipeline verbatim rather than re-deriving the one-sided index."""
    from retail_sales_project_bigdata_spark.operators.dedup import (
        INCREMENTAL_NEAR_DUP_NEW_DOCS_SQL,
    )

    return (
        "SELECT doc_id, n_corpus_matches, best_match_doc_id, best_jaccard"
        f" FROM ({INCREMENTAL_NEAR_DUP_NEW_DOCS_SQL})"
        " WHERE status = 'near_dup_of_corpus'"
    )


ORACLES: dict[str, str] = {
    "streaming_incremental_dedup": STREAMING_INCREMENTAL_DEDUP_SQL,
    "streaming_incremental_near_dup": _streaming_incremental_near_dup_sql(),
    "streaming_corpus_quality": STREAMING_CORPUS_QUALITY_SQL,
    "streaming_hourly_counts": STREAMING_HOURLY_COUNTS_SQL,
    "streaming_user_event_counts": STREAMING_USER_EVENT_COUNTS_SQL,
    "streaming_purchase_view_join": STREAMING_PURCHASE_VIEW_JOIN_SQL,
    "streaming_dedup_events": STREAMING_DEDUP_EVENTS_SQL,
    "streaming_segment_event_counts": STREAMING_SEGMENT_EVENT_COUNTS_SQL,
    # streaming_sliding_value / streaming_stateful_user_sessions:
    # rows-only (watermark / state-evolution semantics by design)
}

QUERIES = {
    "streaming_ann_topk": streaming_ann_topk,
    "streaming_incremental_dedup": streaming_incremental_dedup,
    "streaming_incremental_near_dup": streaming_incremental_near_dup,
    "streaming_corpus_quality": streaming_corpus_quality,
    "streaming_hourly_counts": streaming_hourly_counts,
    "streaming_sliding_value": streaming_sliding_value,
    "streaming_user_event_counts": streaming_user_event_counts,
    "streaming_stateful_user_sessions": streaming_stateful_user_sessions,
    "streaming_purchase_view_join": streaming_purchase_view_join,
    "streaming_dedup_events": streaming_dedup_events,
    "streaming_segment_event_counts": streaming_segment_event_counts,
    "streaming_session_windows": streaming_session_windows,
}
