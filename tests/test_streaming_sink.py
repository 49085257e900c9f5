"""Durable streaming sink: foreachBatch parquet writes must be idempotent
under micro-batch replay (the at-least-once → exactly-once bridge)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from retail_sales_project_bigdata_spark.streaming import (
    _events_stream,
    write_stream_idempotent_parquet,
)
from tests.conftest import SF_SMALL


def _start(spark, out_dir, ckpt_dir):
    stream = _events_stream(spark, SF_SMALL).select(
        "event_id", "user_id", "value"
    )
    return write_stream_idempotent_parquet(stream, out_dir, ckpt_dir)


def test_foreachbatch_sink_writes_all_rows(spark, tmp_path):
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = _start(spark, out, ckpt)
    q.processAllAvailable()
    q.stop()
    got = spark.read.parquet(out)
    want = spark.read.parquet(os.path.join(SF_SMALL, "events.parquet"))
    assert got.count() == want.count()
    assert "batch_id" in got.columns  # hive partition discovered
    assert got.select(F.sum("event_id")).first()[0] == want.select(
        F.sum("event_id")
    ).first()[0]


NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def test_events_stream_leaves_session_conf_unchanged(spark):
    """Building the events stream must not set ``nanosAsLong`` on the
    shared session: a micros file needs no legacy conf at all, and a
    session-wide flag would leak into every later read."""
    spark.conf.unset(NANOS_CONF)
    _events_stream(spark, SF_SMALL)
    assert spark.conf.get(NANOS_CONF, None) is None


def test_events_stream_reads_nanos_file_per_read(spark, tmp_path):
    """A TIMESTAMP(NANOS) events file streams through the per-read
    option: exact micros come back and the session conf stays unset."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from retail_sales_project_bigdata_spark.streaming import _run_to_memory

    sf_dir = str(tmp_path / "nanos_sf")
    os.makedirs(sf_dir)
    micros = np.array([1_000_001, 2_000_002, 3_000_003], dtype="int64")
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2, 3], type=pa.int64()),
                "ts": pa.array(micros * 1000, type=pa.timestamp("ns")),
                "user_id": pa.array([10, 20, 30], type=pa.int64()),
                "event_type": pa.array(["a", "b", "c"]),
                "value": pa.array([1.0, 2.0, 3.0]),
                "props": pa.array(["{}", "{}", "{}"]),
            }
        ),
        os.path.join(sf_dir, "events.parquet"),
    )
    spark.conf.unset(NANOS_CONF)
    stream = _events_stream(spark, sf_dir).select(
        "event_id", F.unix_micros("ts").alias("ts_us")
    )
    name = _run_to_memory(stream, "append")
    got = spark.table(name).orderBy("event_id").collect()
    assert [r.ts_us for r in got] == micros.tolist()
    assert spark.conf.get(NANOS_CONF, None) is None


def test_foreachbatch_sink_idempotent_on_replay(spark, tmp_path):
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = _start(spark, out, ckpt)
    q.processAllAvailable()
    q.stop()
    before = spark.read.parquet(out).count()

    # simulate a failure-replay: wipe the checkpoint so a fresh query
    # re-reads the source and re-emits the same batch ids over the SAME
    # output directory — overwrite-per-batch-dir must not duplicate rows
    import shutil

    shutil.rmtree(ckpt)
    q2 = _start(spark, out, ckpt)
    q2.processAllAvailable()
    q2.stop()
    assert spark.read.parquet(out).count() == before


def test_stream_cdc_upsert(spark, tmp_path):
    """foreachBatch CDC upsert: the final versioned snapshot must equal the
    batch keep-latest + count per user, regardless of micro-batch split."""
    from pyspark.sql import types as T

    from retail_sales_project_bigdata_spark.sources import (
        read_events,
        read_versioned,
    )
    from retail_sales_project_bigdata_spark.streaming import (
        stream_cdc_upsert_parquet,
    )

    # split events into 4 files => 4 micro-batches at maxFilesPerTrigger=1
    src_dir = str(tmp_path / "events_split")
    ev = read_events(spark, SF_SMALL).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    ev.repartition(4).write.parquet(src_dir)

    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src_dir)
    target = str(tmp_path / "user_state")
    q = stream_cdc_upsert_parquet(
        stream, target, str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()

    got = read_versioned(spark, target)
    expected = (
        ev.groupBy("user_id")
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
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0

    # time travel: v=1 holds exactly the first micro-batch's users
    v1 = read_versioned(spark, target, version=1)
    assert 0 < v1.count() <= got.count()
    assert int(
        v1.agg(F.sum("n_events")).first()[0]
    ) < int(got.agg(F.sum("n_events")).first()[0])

    # a fresh run (new checkpoint, same target) converges to the same state
    q2 = stream_cdc_upsert_parquet(
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir),
        target,
        str(tmp_path / "ckpt2"),
    )
    q2.processAllAvailable()
    q2.stop()
    again = read_versioned(spark, target)
    assert again.exceptAll(expected).count() == 0
    assert expected.exceptAll(again).count() == 0


def test_ingest_available_now_processes_only_new_files(spark, tmp_path):
    """Each Trigger.AvailableNow run must consume exactly the files the
    checkpoint has not seen: first run ingests the backlog, a rerun with
    nothing new is a no-op, and a rerun after new files ingests only
    those — no duplicates, no re-reads."""
    from retail_sales_project_bigdata_spark.sources import read_table
    from retail_sales_project_bigdata_spark.streaming import (
        ingest_available_now,
    )

    src = str(tmp_path / "landing")
    out = str(tmp_path / "bronze")
    ckpt = str(tmp_path / "ckpt")

    cust = read_table(spark, SF_SMALL, "customer").orderBy("c_custkey")
    n1 = 40
    cust.limit(n1).repartition(2).write.mode("append").parquet(src)
    ingest_available_now(spark, src, out, ckpt)
    assert spark.read.parquet(out).count() == n1

    # no new files → no new rows
    ingest_available_now(spark, src, out, ckpt)
    assert spark.read.parquet(out).count() == n1

    # land more files → only the delta is ingested
    extra = cust.limit(55).subtract(cust.limit(n1))
    n2 = extra.count()
    extra.repartition(3).write.mode("append").parquet(src)
    ingest_available_now(spark, src, out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == n1 + n2
    assert got.select("c_custkey").distinct().count() == n1 + n2


def test_streaming_incremental_dedup_reconciles_with_batch(spark):
    """The streaming dedup funnel must reconcile exactly with the batch
    per-doc classification (incremental_dedup_new_docs): same novel
    count, same in-batch dup count, same corpus-dup rows."""
    from collections import Counter

    from retail_sales_project_bigdata_spark.operators.dedup import (
        incremental_dedup_new_docs,
    )
    from retail_sales_project_bigdata_spark.streaming import (
        streaming_incremental_dedup,
    )
    from tests.conftest import SF_SMALL

    batch = Counter(
        r["status"]
        for r in incremental_dedup_new_docs(spark, SF_SMALL).collect()
    )
    funnel = {
        r["dedup_class"]: r
        for r in streaming_incremental_dedup(spark, SF_SMALL).collect()
    }
    assert funnel["new"]["novel"] == batch["novel"]
    assert funnel["new"]["dup_in_batch"] == batch["dup_in_batch"]
    assert funnel.get("dup_of_corpus", {"n_rows": 0})["n_rows"] == batch[
        "dup_of_corpus"
    ]
    assert funnel["new"]["n_rows"] == batch["novel"] + batch["dup_in_batch"]


def test_streaming_incremental_near_dup_equals_batch_twin(spark):
    """The streaming near-dup classifier must emit exactly the batch
    twin's matched rows — same docs, same match counts, same best match
    and rounded Jaccard — even though its candidate generation differs
    (map-side md5-order prefixes on both sides, so the stream needs no
    corpus-wide frequency shuffle, vs the batch twin's global
    document-frequency order): any consistent global order keeps the
    prefix lemma lossless and verification is exact, so the results
    coincide."""
    from retail_sales_project_bigdata_spark.operators.dedup import (
        incremental_near_dup_new_docs,
    )
    from retail_sales_project_bigdata_spark.streaming import (
        streaming_incremental_near_dup,
    )
    from tests.conftest import SF_SMALL

    stream = {
        (r.doc_id, r.n_corpus_matches, r.best_match_doc_id, r.best_jaccard)
        for r in streaming_incremental_near_dup(spark, SF_SMALL).collect()
    }
    batch = {
        (r.doc_id, r.n_corpus_matches, r.best_match_doc_id, r.best_jaccard)
        for r in incremental_near_dup_new_docs(spark, SF_SMALL).collect()
        if r.status == "near_dup_of_corpus"
    }
    assert stream == batch
    assert stream, "degenerate corpus: no near-dup matches to compare"
