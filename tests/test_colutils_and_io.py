"""Unit tests for column utilities (P1/P17/P5/P6/P16) and the CSV/sink
surface (S1/S2/S7/S8/S9/S10) with inline fixtures per FIXTURES.md §C."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from retail_sales_project_bigdata_spark.operators.colutils import (
    drop_all_null_columns,
    fill_categorical,
    fill_numeric,
    resolve_column,
    standardize_columns,
)
from retail_sales_project_bigdata_spark.sources import (
    read_csv,
    write_csv,
    write_single_file,
    write_text_lines,
)


def test_standardize_columns(spark):
    df = spark.createDataFrame([(1, 2)], ["Household Key", "BASKET_ID"])
    assert standardize_columns(df).columns == ["household_key", "basket_id"]


def test_resolve_column_probes(spark):
    df = spark.createDataFrame([(1, 2)], ["PRODUCT_ID_x", "other"])
    assert resolve_column(df, "product_id", "product_id_x") == "PRODUCT_ID_x"
    assert resolve_column(df, "missing") is None


def test_fill_helpers_ignore_absent_columns(spark):
    df = spark.createDataFrame([(None, None)], "a double, b string")
    out = fill_numeric(df, ["a", "zzz"], 0.0)
    out = fill_categorical(out, ["b", "yyy"])
    row = out.first()
    assert row.a == 0.0 and row.b == "UNKNOWN"


def test_drop_all_null_columns_single_job(spark):
    df = spark.createDataFrame(
        [(1, None, "x"), (2, None, None)], "a long, dead string, c string"
    )
    out = drop_all_null_columns(df)
    assert out.columns == ["a", "c"]


def test_csv_roundtrip_with_schema(spark, tmp_path):
    # S1: explicit Dunnhumby schema, one scan, no inference
    p = str(tmp_path / "tx.csv")
    with open(p, "w") as f:
        f.write(
            "household_key,basket_id,day,product_id,quantity,sales_value,"
            "store_id,retail_disc,trans_time,week_no,coupon_disc,coupon_match_disc\n"
            "1,10,5,100,2,9.99,3,-1.0,1300,1,0.0,0.0\n"
            "2,11,9,101,1,4.50,3,0.0,1400,2,-0.5,0.0\n"
        )
    df = read_csv(spark, p, table="transaction_data")
    assert dict(df.dtypes)["sales_value"] == "double"
    assert df.count() == 2
    # S2: all-strings mode (MarketBasketAnalysis.java:96-99)
    df2 = read_csv(spark, p, all_strings=True)
    assert all(t == "string" for _, t in df2.dtypes)


def test_csv_sink_and_single_file(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    out = str(tmp_path / "out_csv")
    write_csv(df, out, single_file=True)
    files = [f for f in os.listdir(out) if f.endswith(".csv")]
    assert len(files) == 1

    single = write_single_file(df.orderBy("k"), str(tmp_path / "single.csv"), "csv")
    assert os.path.isfile(single)

    # S8: text sink with preformatted lines (itemset export shape)
    lines_df = df.select(
        F.concat_ws("\t", F.col("k").cast("string"), F.col("v")).alias("value")
    )
    write_text_lines(lines_df, str(tmp_path / "lines"))
    assert os.path.isdir(str(tmp_path / "lines"))


def test_model_save_load_roundtrip(spark, tmp_path):
    # S10 + M6: persist a fitted pipeline, reload, score a manual row
    from pyspark.ml import Pipeline
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import VectorAssembler

    from retail_sales_project_bigdata_spark.ml.pipelines import (
        load_pipeline,
        save_pipeline,
    )

    train = spark.createDataFrame(
        [(1.0, 2.0), (1.1, 2.1), (8.0, 9.0), (8.1, 9.2)], ["f1", "f2"]
    )
    pipe = Pipeline(
        stages=[
            VectorAssembler(inputCols=["f1", "f2"], outputCol="features"),
            KMeans(k=2, seed=1, featuresCol="features"),
        ]
    )
    model = pipe.fit(train)
    path = str(tmp_path / "model")
    save_pipeline(model, path)
    loaded = load_pipeline(path)

    # SegmentationPrediction.java:74-87 manual single-row scoring path
    manual = spark.createDataFrame([(1.05, 2.05)], ["f1", "f2"])
    pred = loaded.transform(manual).select("prediction").first()[0]
    near = loaded.transform(
        spark.createDataFrame([(1.0, 2.0)], ["f1", "f2"])
    ).select("prediction").first()[0]
    assert pred == near


def test_csv_malformed_row_policies(spark, tmp_path):
    # Ingest robustness (S1 extension): one well-formed row, one row with a
    # non-numeric quantity.  PERMISSIVE null-fills, DROPMALFORMED discards,
    # keep_corrupt quarantines the raw line.
    p = str(tmp_path / "bad.csv")
    header = (
        "household_key,basket_id,day,product_id,quantity,sales_value,"
        "store_id,retail_disc,trans_time,week_no,coupon_disc,coupon_match_disc"
    )
    good = "1,10,5,100,2,9.99,3,-1.0,1300,1,0.0,0.0"
    bad = "2,11,9,101,NOT_A_NUMBER,4.50,3,0.0,1400,2,-0.5,0.0"
    with open(p, "w") as f:
        f.write(header + "\n" + good + "\n" + bad + "\n")

    permissive = read_csv(spark, p, table="transaction_data").collect()
    assert len(permissive) == 2
    assert {r.household_key for r in permissive} == {1, 2}
    assert [r.quantity for r in permissive if r.household_key == 2] == [None]

    dropped = read_csv(spark, p, table="transaction_data", mode="DROPMALFORMED")
    assert [r.household_key for r in dropped.collect()] == [1]

    quarantined = read_csv(
        spark, p, table="transaction_data", keep_corrupt=True
    ).collect()
    corrupt = [r for r in quarantined if r._corrupt_record is not None]
    assert len(corrupt) == 1 and corrupt[0]._corrupt_record == bad

    import pytest as _pytest

    with _pytest.raises(Exception):
        read_csv(spark, p, table="transaction_data", mode="FAILFAST").collect()


def test_with_provenance_addresses_every_row(spark, tmp_path):
    """(_source_file, _file_row_pos) must uniquely address each row and
    name the real file it came from."""
    from retail_sales_project_bigdata_spark.sources import (
        read_table,
        with_provenance,
    )

    src = str(tmp_path / "multi")
    from tests.conftest import SF_SMALL

    read_table(spark, SF_SMALL, "customer").repartition(3).write.parquet(src)
    df = with_provenance(spark.read.parquet(src))
    rows = df.select("_source_file", "_file_row_pos", "c_custkey").collect()
    assert rows
    assert all(r._source_file.endswith(".parquet") for r in rows)
    assert len(rows) == len({(r._source_file, r._file_row_pos) for r in rows})
    assert len({r._source_file for r in rows}) == 3


def test_observed_write_collects_metrics_without_extra_scan(spark, tmp_path):
    """Metrics observed on the write job must equal separately-computed
    aggregates — row counts and sums ride the write's own pass."""
    from tests.conftest import SF_SMALL

    from retail_sales_project_bigdata_spark.sources import (
        observed_write,
        read_table,
    )

    li = read_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    out = str(tmp_path / "observed")
    got = observed_write(
        li,
        out,
        metrics={
            "n_rows": F.count(F.lit(1)),
            "total_qty": F.round(F.sum("l_quantity"), 4),
        },
    )
    want = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 4).alias("total_qty"),
    ).first()
    assert got["n_rows"] == want.n_rows
    assert abs(got["total_qty"] - want.total_qty) < 1e-6
    assert spark.read.parquet(out).count() == want.n_rows


def test_orc_roundtrip_preserves_values(spark, tmp_path):
    from tests.conftest import SF_SMALL

    from retail_sales_project_bigdata_spark.sources import (
        read_orc,
        read_table,
        write_orc,
    )

    li = read_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    out = str(tmp_path / "orc")
    write_orc(li, out, partition_by="l_returnflag")
    back = read_orc(spark, out)
    a = li.agg(F.count(F.lit(1)), F.round(F.sum("l_quantity"), 4)).first()
    b = back.agg(F.count(F.lit(1)), F.round(F.sum("l_quantity"), 4)).first()
    assert (a[0], a[1]) == (b[0], b[1])
    import os

    assert any(d.startswith("l_returnflag=") for d in os.listdir(out))


def test_lakehouse_stubs_fail_actionably(spark):
    import pytest

    from retail_sales_project_bigdata_spark.sources import lakehouse, read_table
    from tests.conftest import SF_SMALL

    df = read_table(spark, SF_SMALL, "region")
    if not lakehouse.delta_available():
        with pytest.raises(NotImplementedError, match="delta-spark"):
            lakehouse.write_delta(df, "/tmp/never")
    if not lakehouse.iceberg_available(spark):
        with pytest.raises(NotImplementedError, match="Iceberg"):
            lakehouse.write_iceberg(df, "cat.db.t")


def test_read_jdbc_validates_partition_contract(spark):
    import pytest

    from retail_sales_project_bigdata_spark.sources import read_jdbc

    with pytest.raises(ValueError, match="partition_column requires"):
        read_jdbc(
            spark,
            "jdbc:postgresql://localhost/x",
            "t",
            partition_column="id",
        )


def test_read_events_nanos_scoped_per_read(spark, tmp_path):
    """A nanos-encoded events file must read correctly WITHOUT leaving
    ``spark.sql.legacy.parquet.nanosAsLong`` set on the session — the
    legacy conf is scoped to the one relation via explicit schema +
    per-read option (VERDICT r1 item 7: no cross-query conf state)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from retail_sales_project_bigdata_spark.sources import read_events

    sf_dir = str(tmp_path / "nanos_sf")
    import os

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
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) in (
        None,
        "false",
    )
    got = read_events(spark, sf_dir).orderBy("event_id").collect()
    assert [r.ts_us for r in got] == micros.tolist()
    # no session-visible mutation on the nanos branch
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) in (
        None,
        "false",
    )
    # a CONCURRENT micros read in the same session is unaffected
    ev = read_events(spark, "/root/testdata/sf0.001")
    assert dict(ev.dtypes)["ts"].startswith("timestamp")
    assert ev.limit(1).count() == 1


def test_read_events_micros_branch_unchanged(spark):
    from retail_sales_project_bigdata_spark.sources import read_events

    ev = read_events(spark, "/root/testdata/sf0.001")
    row = ev.orderBy("event_id").limit(1).collect()[0]
    assert row.ts_us is not None
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) in (
        None,
        "false",
    )


def test_write_single_file_hadoop_fs_uri(spark, tmp_path):
    """S9 via the Hadoop FileSystem API: an explicit ``file://`` URI
    target must produce one readable file (the object-store-shaped path;
    VERDICT r1 item 4)."""
    from retail_sales_project_bigdata_spark.sources import write_single_file

    df = spark.range(5).withColumnRenamed("id", "k")
    out = f"file://{tmp_path}/report.parquet"
    got = write_single_file(df, out)
    assert got == out
    import os

    local = str(tmp_path / "report.parquet")
    assert os.path.isfile(local)
    assert not os.path.exists(local + "._tmp")
    back = spark.read.parquet(out)
    assert sorted(r.k for r in back.collect()) == [0, 1, 2, 3, 4]
    # overwrite of an existing single file works (delete + rename)
    write_single_file(spark.range(2).withColumnRenamed("id", "k"), out)
    assert spark.read.parquet(out).count() == 2


def test_upload_to_fs_stages_local_files(spark, tmp_path):
    """S11 (scripts/upload_to_hdfs.sh:9-10): staging a local file onto a
    Hadoop-FS URI — file and directory sources, overwrite semantics, and
    a loud error when overwrite=False hits an existing target."""
    import pytest

    from retail_sales_project_bigdata_spark.sources import upload_to_fs

    src = tmp_path / "raw.csv"
    src.write_text("a,b\n1,2\n")
    dest = f"file://{tmp_path}/staged/raw.csv"
    assert upload_to_fs(spark, str(src), dest) == dest
    assert (tmp_path / "staged" / "raw.csv").read_text() == "a,b\n1,2\n"

    # overwrite=True replaces; overwrite=False refuses
    src.write_text("a,b\n3,4\n")
    upload_to_fs(spark, str(src), dest)
    assert (tmp_path / "staged" / "raw.csv").read_text() == "a,b\n3,4\n"
    with pytest.raises(FileExistsError):
        upload_to_fs(spark, str(src), dest, overwrite=False)
    with pytest.raises(FileNotFoundError):
        upload_to_fs(spark, str(tmp_path / "missing.csv"), dest)

    # directory source: the whole tree lands under the destination
    d = tmp_path / "batch"
    d.mkdir()
    (d / "p1.csv").write_text("x\n")
    (d / "p2.csv").write_text("y\n")
    up = f"file://{tmp_path}/staged/batch"
    upload_to_fs(spark, str(d), up)
    assert sorted(
        p.name for p in (tmp_path / "staged" / "batch").iterdir()
    ) == ["p1.csv", "p2.csv"]

    # hostile local names: '#' (URI fragment), '%' (escape), spaces must
    # survive — the source Path is built from java.io.File(...).toURI(),
    # not string concatenation
    for name in ("report #3.csv", "50%off.csv", "two words.csv"):
        hostile = tmp_path / name
        hostile.write_text("h\n")
        hdest = f"file://{tmp_path}/staged/hostile_{name.replace('%', 'p').replace('#', 'n').replace(' ', '_')}"
        upload_to_fs(spark, str(hostile), hdest)
        from urllib.parse import urlparse

        assert open(urlparse(hdest).path).read() == "h\n"


def test_bucketed_join_elides_exchange(spark):
    """Co-located bucketed join: writing both sides bucketed on the join
    key must let Catalyst plan the join with NO Exchange on either side
    (the physical design that removes the repeated-join shuffle at
    100 TB), and sortBy buckets feed SortMergeJoin without extra Sort of
    a shuffle."""
    from retail_sales_project_bigdata_spark.sources import write_bucketed
    from retail_sales_project_bigdata_spark.plans import physical_plan

    left = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("a")
    )
    right = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("b")
    )
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_bucketed(left, "t_bkt_left", "k", num_buckets=8, sort_cols="k")
        write_bucketed(right, "t_bkt_right", "k", num_buckets=8, sort_cols="k")
        # tiny test tables would be broadcast (bucketing "disabled by
        # query planner"); force the shuffle-join regime the design
        # targets — two FACT-sized sides.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = (
            spark.table("t_bkt_left")
            .join(spark.table("t_bkt_right"), "k")
            .select("k", "a", "b")
        )
        plan = physical_plan(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        assert joined.count() == 500
        # same-key aggregation also rides the bucketing, shuffle-free
        agg = spark.table("t_bkt_left").groupBy("k").agg(F.sum("a"))
        assert "Exchange" not in physical_plan(agg), physical_plan(agg)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS t_bkt_left")
        spark.sql("DROP TABLE IF EXISTS t_bkt_right")


def test_range_layout_files_are_disjoint(spark, tmp_path):
    """Every file of a range layout must cover a disjoint key range (the
    property that makes parquet min/max stats file-level prune filters),
    and the layout must preserve the data."""
    import glob

    from retail_sales_project_bigdata_spark.sources import cluster_parquet

    df = spark.range(10_000).select(
        (F.col("id") * 7919 % 10_000).alias("k"), F.col("id").alias("v")
    )
    out = str(tmp_path / "ranged")
    cluster_parquet(df, out, ["k"], n_files=8)
    back = spark.read.parquet(out)
    assert back.count() == 10_000
    parts = sorted(glob.glob(out + "/part-*.parquet"))
    assert len(parts) >= 4  # range partitioner may merge sparse bounds
    spans = []
    for p in parts:
        row = spark.read.parquet(p).agg(F.min("k"), F.max("k")).first()
        if row[0] is not None:
            spans.append((row[0], row[1]))
    spans.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2, spans  # disjoint, ordered ranges
