"""Sources & sinks (SURVEY §2.1, S1-S11).

Readers use explicit schemas (no inferSchema double-scan — §4.3.2) and
attach broadcast hints to dimension tables whose size is scale-invariant,
so every downstream join of fact × dim compiles to a broadcast-hash join
instead of shuffling the 100 TB side.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from retail_sales_project_bigdata_spark.schemas import (
    BROADCAST_MAX_BYTES,
    BROADCASTABLE_TABLES,
    DUNNHUMBY_SCHEMAS,
    EVENTS,
    TESTDATA_SCHEMAS,
)


def fan_out(df: DataFrame) -> DataFrame:
    """Raise scan parallelism for compute-heavy map phases (S3 note).

    The driver testdata is single-row-group parquet — unsplittable, so a
    scan arrives as ONE partition and everything up to the first shuffle
    (shingling, 64-term dot products, mapInPandas batches) runs on one
    core of ``local[32]``.  This helper inserts a round-robin repartition
    to ``defaultParallelism`` ONLY when the scan is under-parallel; on
    production inputs (many files / row groups ⇒ scan partitions ≥ cores)
    it is a structural no-op, so the 100 TB plan is unchanged.  Use it
    where the downstream map work dominates the tiny extra shuffle —
    never in front of a plain aggregate whose map side is trivial.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def _table_path(sf_dir: str, name: str) -> str:
    """Path of a declared testdata table; ``KeyError`` for any other."""
    if name not in TESTDATA_SCHEMAS:
        raise KeyError(
            f"undeclared table {name!r}; "
            f"declared: {', '.join(TESTDATA_SCHEMAS)}"
        )
    return os.path.join(sf_dir, f"{name}.parquet")


def read_table(
    spark: SparkSession, sf_dir: str, name: str, broadcast_dims: bool = True
) -> DataFrame:
    """Read one testdata parquet table (S3) with its declared schema.

    The schema comes from :data:`schemas.TESTDATA_SCHEMAS` (which
    ``tests/test_schemas.py`` checks against every footer), so building
    the read launches no Spark job: without a schema, Spark runs a
    footer-inference job per read while the query is still being built.
    An undeclared name raises ``KeyError``.  Dimension tables get a
    ``broadcast()`` hint — at 100 TB the fact tables shuffle terabytes if
    a dim join degrades to sort-merge, so the hint is part of the physical
    design, not an afterthought (SURVEY §2.3 physical note).

    Also ships this package to the Python workers (once per
    SparkContext) so Arrow-boundary queries survive a driver whose cwd
    is not the repo root — see ``session.ensure_package_on_workers``.
    """
    from retail_sales_project_bigdata_spark.session import (
        ensure_package_on_workers,
    )

    path = _table_path(sf_dir, name)
    ensure_package_on_workers(spark)
    df = spark.read.schema(TESTDATA_SCHEMAS[name]).parquet(path)
    if (
        broadcast_dims
        and name in BROADCASTABLE_TABLES
        and _on_disk_bytes(path) < BROADCAST_MAX_BYTES
    ):
        df = F.broadcast(df)
    return df


def table_rows(sf_dir: str, name: str) -> int:
    """Row count of one testdata table from its parquet footers.

    Read on the driver, so sizing a query launches no Spark job.  The
    table may be one parquet file or a Spark output directory, whose
    ``_SUCCESS`` and ``.crc`` files pyarrow skips.  An undeclared name
    raises ``KeyError``, as in :func:`read_table`."""
    return ds.dataset(
        _table_path(sf_dir, name), format="parquet"
    ).count_rows()


def _on_disk_bytes(path: str) -> int:
    """Cheap size probe for the broadcast-hint guard (local paths only;
    non-local/missing paths return 0 so the hint stays on and Spark's own
    size estimation takes over at join planning)."""
    try:
        if os.path.isfile(path):
            return os.path.getsize(path)
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, files in os.walk(path)
            for f in files
        )
    except OSError:
        return 0


def with_events_schema(reader, path: str):
    """Give a batch or streaming reader the declared ``EVENTS`` schema for
    the events file at ``path``; returns ``(reader, nanos)``.

    The footer, read on the driver (no Spark job), says whether ``ts`` is
    stored as TIMESTAMP(NANOS).  Then ``ts`` is declared as the raw int64
    and ``spark.sql.legacy.parquet.nanosAsLong`` is set as an option of
    this one read: SQL confs passed as datasource options are merged into
    the scan's hadoopConf (``newHadoopConfWithOptions``), so the session
    conf, and every other read in the session, stays unchanged."""
    if pq.read_schema(path).field("ts").type != pa.timestamp("ns"):
        return reader.schema(EVENTS), False
    schema = T.StructType(
        [
            T.StructField(f.name, T.LongType()) if f.name == "ts" else f
            for f in EVENTS
        ]
    )
    return (
        reader.schema(schema).option(
            "spark.sql.legacy.parquet.nanosAsLong", "true"
        ),
        True,
    )


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the events table, normalizing its timestamp representation.

    The testdata generator has shipped ``ts`` both as parquet INT64
    TIMESTAMP(NANOS) (unreadable as TimestampType; needs
    ``spark.sql.legacy.parquet.nanosAsLong``) and as plain microsecond
    TIMESTAMP (read as TIMESTAMP_NTZ).  :func:`with_events_schema` picks
    the branch from the footer on the driver, so the read launches no
    Spark job and leaves the session conf alone, and either branch
    exposes the same contract: ``ts_us`` (exact int64 micros — use for
    ordering/gap arithmetic; µs matches what DuckDB's parquet reader
    keeps, ``epoch_us(ts)``) and ``ts`` (microsecond TimestampType for
    window functions; session tz is UTC so the instant is identical)."""
    path = os.path.join(sf_dir, "events.parquet")
    reader, nanos = with_events_schema(spark.read, path)
    if nanos:
        ts_us = F.expr("ts DIV 1000")
    else:
        ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    return reader.parquet(path).select(
        "event_id",
        ts_us.alias("ts_us"),
        F.timestamp_micros(ts_us).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def read_csv(
    spark: SparkSession,
    path: str,
    table: str | None = None,
    all_strings: bool = False,
    infer: bool = False,
    mode: str = "PERMISSIVE",
    keep_corrupt: bool = False,
) -> DataFrame:
    """CSV scan (S1/S2).

    - ``table`` given → explicit Dunnhumby StructType (one scan).
    - ``all_strings=True`` → reference MarketBasketAnalysis.java:96-99
      behavior (inferSchema=false, everything string).
    - ``infer=True`` → reference-compatible fallback
      (FullPreprocessingPipeline.java:43-46); costs a second scan.
    - ``mode`` → malformed-row policy (PERMISSIVE null-fills,
      DROPMALFORMED discards, FAILFAST raises).  At ingest scale bad
      rows are a certainty; the reference hard-crashes on them.
    - ``keep_corrupt=True`` (PERMISSIVE + explicit schema only) →
      retain the raw malformed line in ``_corrupt_record`` for a
      quarantine sink instead of silently null-filling.
    """
    if keep_corrupt and mode != "PERMISSIVE":
        raise ValueError(
            "keep_corrupt requires mode='PERMISSIVE' (other modes drop or "
            "reject malformed rows before the corrupt-record column exists)"
        )
    reader = spark.read.option("header", True).option("mode", mode)
    if table is not None:
        schema = DUNNHUMBY_SCHEMAS[table]
        if keep_corrupt:
            from pyspark.sql import types as T

            schema = T.StructType(
                [*schema.fields, T.StructField("_corrupt_record", T.StringType())]
            )
            reader = reader.option("columnNameOfCorruptRecord", "_corrupt_record")
        reader = reader.schema(schema)
    elif infer and not all_strings:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def _partitioned_writer(
    df: DataFrame, mode: str, partition_by: str | list[str] | None
):
    """Shared writer setup: mode + str-or-list partitionBy normalization
    (one copy — parquet/ORC/versioned sinks all use it)."""
    writer = df.write.mode(mode)
    if partition_by:
        cols = [partition_by] if isinstance(partition_by, str) else partition_by
        writer = writer.partitionBy(*cols)
    return writer


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: str | list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Parquet sink, optionally hive-partitioned (S4/S5).

    Mirrors the reference's write-partitioning physical design
    (``FullPreprocessingPipeline.java:175,209,223`` partitions by
    week_no / income_desc / department for downstream partition pruning).
    """
    _partitioned_writer(df, mode, partition_by).parquet(path)


def observed_write(
    df: DataFrame,
    path: str,
    partition_by: str | list[str] | None = None,
    metrics: dict[str, F.Column] | None = None,
) -> dict[str, object]:
    """Parquet write that collects pipeline metrics ON THE WRITE JOB
    itself via ``df.observe`` — zero extra scans.

    This is the §4.3.5 fix done properly: the reference logged row
    counts with separate ``count()`` actions (one more full scan per
    log line, FullPreprocessingPipeline.java:48,228-231); an Observation
    rides the write's own pass, so at 100 TB the metrics are free.
    ``metrics`` maps name → aggregate Column (default: row count).
    Returns the observed values after the write completes.
    """
    from pyspark.sql import Observation

    obs = Observation()
    cols = metrics or {"n_rows": F.count(F.lit(1))}
    observed = df.observe(obs, *[c.alias(n) for n, c in cols.items()])
    write_parquet(observed, path, partition_by=partition_by)
    return obs.get


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: str | list[str],
    num_buckets: int = 32,
    sort_cols: str | list[str] | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Bucketed managed-table sink — THE physical design for repeated
    co-located joins/aggregations on the same key at 100 TB.

    ``bucketBy(N, key)`` hash-partitions rows into N files per
    partition-dir and records the bucketing in the catalog; a later join
    or groupBy on the bucket key reads both sides ALREADY co-partitioned
    — Catalyst elides the Exchange entirely (plan-asserted in
    tests/test_colutils_and_io.py), turning every subsequent
    fact-to-fact join on that key from a full shuffle into a zip of
    matching buckets.  ``sortBy`` additionally pre-sorts within buckets
    so sort-merge joins skip their sort.  Pick N ≈ (table size /
    target-partition-size) at the LARGEST expected scale — buckets are
    fixed at write time and too-few buckets caps join parallelism.

    Spark requires ``saveAsTable`` (catalog metadata carries the
    bucketing contract); plain ``.save(path)`` with bucketBy throws.
    """
    if isinstance(bucket_cols, str):
        bucket_cols = [bucket_cols]
    writer = (
        df.write.mode(mode).format(fmt).bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols is not None:
        if isinstance(sort_cols, str):
            sort_cols = [sort_cols]
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same columnar pushdown/pruning properties as parquet
    (Spark's second first-class columnar format; some warehouses land
    ORC)."""
    return spark.read.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: str | list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """ORC sink, optionally hive-partitioned."""
    _partitioned_writer(df, mode, partition_by).orc(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    **options: str,
) -> DataFrame:
    """JDBC scan with explicit read-parallelism controls.

    Without ``partition_column``/bounds, Spark reads a JDBC table on ONE
    task — the classic accidental bottleneck; this wrapper makes the
    parallel form the obvious path.  No JDBC driver ships in this
    environment, so the call will fail at connect time — the plan-side
    contract (options, partitioning math) is what the engine owns.
    """
    reader = spark.read.format("jdbc").option("url", url).option(
        "dbtable", table
    )
    if partition_column is not None:
        if None in (lower_bound, upper_bound, num_partitions):
            raise ValueError(
                "partition_column requires lower_bound, upper_bound, "
                "and num_partitions"
            )
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def write_csv(
    df: DataFrame, path: str, single_file: bool = False, mode: str = "overwrite"
) -> None:
    """CSV sink with header (S7) — top_products_by_count.py:21."""
    out = df.coalesce(1) if single_file else df
    out.write.mode(mode).option("header", True).csv(path)


def write_text_lines(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Text sink (S8) — replaces MarketBasketAnalysis.java:206-218's RDD
    ``saveAsTextFile``; caller pre-formats a single string column named
    ``value`` (e.g. ``concat_ws('\\t', freq, concat_ws(',', items))``)."""
    df.write.mode(mode).text(path)


def write_single_file(df: DataFrame, path: str, fmt: str = "parquet") -> str:
    """Single-file emit (S9) — ProductRecommendation.java:79-108.

    The reference coalesces to one partition then renames the part file
    via the Hadoop FileSystem API; this does the same through py4j
    (``FileSystem.globStatus`` → ``rename`` → ``delete``), so the target
    may be any Hadoop-FS URI — local path, ``file://``, HDFS, or an
    object store whose connector is on the classpath (S9 parity,
    VERDICT r1 item 4).  Deliberate anti-parallelism for report UX —
    never use on large outputs.
    """
    spark = df.sparkSession
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    HPath = jvm.org.apache.hadoop.fs.Path
    dst = HPath(path)
    fs = dst.getFileSystem(hconf)
    if fs.exists(dst) and fs.getFileStatus(dst).isDirectory():
        raise ValueError(
            f"{path} exists as a directory (a multi-file dataset?) — "
            "write_single_file targets a single FILE path; remove the "
            "directory or pick another name"
        )
    tmp = path + "._tmp"
    writer = df.coalesce(1).write.mode("overwrite")
    getattr(writer, fmt)(tmp)

    parts = fs.globStatus(HPath(tmp + "/part-*"))
    if parts is None or len(parts) != 1:  # pragma: no cover — coalesce(1)
        found = [] if parts is None else [p.getPath().toString() for p in parts]
        raise RuntimeError(f"expected exactly one part file in {tmp}: {found}")
    if fs.exists(dst):
        fs.delete(dst, False)
    if not fs.rename(parts[0].getPath(), dst):
        raise RuntimeError(  # pragma: no cover — same-FS rename
            f"FileSystem.rename({parts[0].getPath()}, {path}) returned false"
        )
    fs.delete(HPath(tmp), True)
    return path


def upload_to_fs(
    spark: SparkSession,
    local_path: str,
    dest_uri: str,
    overwrite: bool = True,
) -> str:
    """Engine-side twin of the reference's HDFS staging shell (S11,
    ``scripts/upload_to_hdfs.sh:9-10``: ``hdfs dfs -put <local> <dest>``)
    — copies a local file or directory onto any Hadoop-FS URI through
    py4j (``FileSystem.copyFromLocalFile``), so the one step the
    reference leaves to a shell script is callable from the engine
    (closes SURVEY §2 S11, previously "out of engine scope").

    The destination filesystem comes from the URI scheme (local path /
    ``file://`` / ``hdfs://`` / any object-store connector on the
    classpath); the copy itself is a driver-side stream — this stages
    INPUT files (the reference uploads raw CSVs before a run), it is not
    a distributed write path.
    """
    import os as _os

    if not _os.path.exists(local_path):
        raise FileNotFoundError(local_path)
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    HPath = jvm.org.apache.hadoop.fs.Path
    # Source URI via java.io.File(...).toURI() — proper percent-encoding,
    # so local paths containing '#', '%', or spaces survive (a string
    # concat "file://" + path would let Hadoop Path parse '#' as a URI
    # fragment separator).  Path(URI) skips string re-parsing entirely.
    src = HPath(jvm.java.io.File(_os.path.abspath(local_path)).toURI())
    dst = HPath(dest_uri)
    fs = dst.getFileSystem(hconf)
    try:
        # overwrite=False is enforced ATOMICALLY by the filesystem inside
        # copyFromLocalFile (no exists() pre-check → no TOCTOU window).
        fs.copyFromLocalFile(False, overwrite, src, dst)
    except Exception as err:  # py4j Py4JJavaError
        if not overwrite and fs.exists(dst):
            raise FileExistsError(dest_uri) from err
        raise
    return dest_uri


def with_provenance(df: DataFrame) -> DataFrame:
    """Attach row-level provenance: the source file path each row came
    from (``input_file_name()`` — resolved per split at scan time, free)
    and a position within that file's scan.

    Scope of the address: (file, pos) is unique within one read and
    stable across re-reads ONLY while the scan configuration is fixed —
    a file large enough to split into multiple partitions gets its
    positions assigned per split, and changing ``maxPartitionBytes`` /
    parallelism re-buckets them.  Apply at INGEST (immutable landing
    files, one read configuration), persist the columns, and treat the
    persisted values as the durable key — do not recompute them later.
    Must be called directly on a scan: after a shuffle
    ``input_file_name()`` returns '' and the window degenerates to one
    global partition."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(F.input_file_name()).orderBy(
        F.monotonically_increasing_id()
    )
    return df.withColumn("_source_file", F.input_file_name()).withColumn(
        "_file_row_pos", F.row_number().over(w)
    )


def read_parquet_merged(spark: SparkSession, *paths: str) -> DataFrame:
    """Schema-evolution read: union parquet directories whose schemas
    drifted (columns added/dropped between pipeline versions).

    ``mergeSchema`` makes the footer reconciliation explicit — absent
    columns come back NULL, new columns survive.  It costs a footer read
    per file at planning time, which is why it is opt-in here rather
    than session-default (at 100 TB the footer sweep is the expensive
    part; production tables should pin the merged schema in a metastore
    and leave this path for exploration/backfill reads)."""
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def compact_parquet(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-files compaction — the maintenance op every long-running
    ingest needs: N tiny part files (per-microbatch/per-task emissions)
    rewritten as ceil(total_bytes / target) right-sized files.

    Sizing comes from the SOURCE bytes (cheap file-status sweep), not a
    row count job; ``repartition`` (round-robin shuffle) balances output
    files regardless of input skew.  At production scale the same logic
    runs per hive-partition so compaction parallelizes across partitions
    and never rewrites already-compact ones.  Returns the file count
    written."""
    total = 0
    for root, _dirs, files in os.walk(in_dir):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet") or f.startswith("part-")
        )
    n_files = max(1, -(-total // target_file_bytes))
    spark.read.parquet(in_dir).repartition(n_files).write.mode(
        "overwrite"
    ).parquet(out_dir)
    return n_files


def cluster_parquet(
    df: DataFrame,
    out_dir: str,
    cluster_by: list[str],
    n_files: int = 8,
) -> None:
    """Range-clustered parquet rewrite (CLUSTER BY / Z-order-lite) — the
    data-layout op behind min/max (zone-map) file skipping at 100 TB.

    ``repartitionByRange`` range-partitions on the clustering keys
    (sampled boundaries ⇒ balanced files even under skew) and
    ``sortWithinPartitions`` orders rows inside each file, so every file
    and row group carries a TIGHT, pairwise-disjoint min/max band on the
    leading key.  A reader filtering on that key then prunes to ~1 of
    ``n_files`` files from parquet footer statistics alone — before any
    row is decoded.  This is the write-side half of data-skipping:
    bucketing co-locates JOIN keys; range layout localizes RANGE
    predicates (time, id prefixes).  (Spark's parquet reader does this
    row-group-level skipping natively from the pushed filter; the
    pyarrow inspection in ``file_minmax`` makes the effect testable
    without a cluster.)

    ``n_files`` should target the production file-size sweet spot
    (~128 MB-1 GB per file); it fixes write parallelism, not read —
    readers still split files by row group."""
    (
        df.repartitionByRange(n_files, *[F.col(c) for c in cluster_by])
        .sortWithinPartitions(*cluster_by)
        .write.mode("overwrite")
        .parquet(out_dir)
    )


def zorder_cluster_parquet(
    df: DataFrame,
    out_dir: str,
    col_x: str,
    col_y: str,
    n_files: int = 8,
    bits: int = 16,
) -> None:
    """Z-order (Morton-curve) clustered parquet rewrite — 2-D file
    skipping where linear range clustering can only serve one dimension.

    ``cluster_parquet`` on ``(x, y)`` gives tight per-file bands on ``x``
    but every file spans the full ``y`` domain; a filter on ``y`` alone
    reads everything.  Interleaving the bits of min-max-normalized ``x``
    and ``y`` into one Morton key and range-clustering on THAT bounds the
    per-file span of BOTH columns (each file covers a small quad of the
    2-D grid), so parquet footer min/max prunes point/range probes on
    either dimension.  This is the layout play behind Delta/Iceberg
    Z-ORDER, expressed with stock Spark operators.

    The normalization bounds come from one tiny driver-side agg (4
    scalars); the interleave itself is a codegen'd bitwise expression —
    no UDF, scan-bound at any scale.
    """
    lo_hi = df.agg(
        F.min(col_x), F.max(col_x), F.min(col_y), F.max(col_y)
    ).first()
    if any(v is None for v in lo_hi):
        # empty input or an all-null clustering column: no curve to
        # build — emit the data as-is rather than crash on float(None)
        df.write.mode("overwrite").parquet(out_dir)
        return
    xmin, xmax, ymin, ymax = (float(v) for v in lo_hi)
    scale = (1 << bits) - 1

    def _norm(c: str, lo: float, hi: float) -> F.Column:
        span = (hi - lo) or 1.0
        return F.round(
            (F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * scale
        ).cast("long")

    z = F.lit(0).cast("long")
    nx, ny = _norm(col_x, xmin, xmax), _norm(col_y, ymin, ymax)
    for i in range(bits):
        z = (
            z
            .bitwiseOR(F.shiftleft(F.shiftright(nx, i).bitwiseAND(F.lit(1)), 2 * i))
            .bitwiseOR(
                F.shiftleft(F.shiftright(ny, i).bitwiseAND(F.lit(1)), 2 * i + 1)
            )
        )
    (
        df.withColumn("_zval", z)
        .repartitionByRange(n_files, F.col("_zval"))
        .sortWithinPartitions("_zval")
        .drop("_zval")
        .write.mode("overwrite")
        .parquet(out_dir)
    )


def file_minmax(out_dir: str, column: str) -> list[tuple[object, object]]:
    """Per-file (min, max) footer statistics for ``column`` — the zone
    map a clustered layout is graded on.  Pure metadata reads."""
    spans: list[tuple[object, object]] = []
    for root, _dirs, files in os.walk(out_dir):
        for f in sorted(files):
            if not (f.endswith(".parquet") and not f.startswith("_")):
                continue
            md = pq.ParquetFile(os.path.join(root, f)).metadata
            idx = md.schema.names.index(column)
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is not None and st.has_min_max:
                    mins.append(st.min)
                    maxs.append(st.max)
            if mins:
                spans.append((min(mins), max(maxs)))
    return spans


def publish_versioned(
    df: DataFrame,
    table_dir: str,
    partition_by: str | list[str] | None = None,
) -> int:
    """Versioned snapshot publish — atomic-swap table updates without a
    lakehouse format: each publish writes a fresh ``v=N`` directory and
    then flips a tiny ``_CURRENT`` manifest to point at it.  Readers that
    resolved the manifest before the flip keep reading the old snapshot
    (no in-place overwrite ⇒ no torn reads), and old versions remain
    addressable for time travel / rollback until a retention sweep.
    The manifest write is a single small file — the closest thing to an
    atomic commit a plain object store gives you.  Returns the new
    version number."""
    os.makedirs(table_dir, exist_ok=True)
    existing = [
        int(d.split("=", 1)[1])
        for d in os.listdir(table_dir)
        if d.startswith("v=") and d.split("=", 1)[1].isdigit()
    ]
    version = max(existing, default=0) + 1
    _partitioned_writer(df, "errorifexists", partition_by).parquet(
        os.path.join(table_dir, f"v={version}")
    )
    flip_manifest(table_dir, version)
    return version


def flip_manifest(table_dir: str, version: int) -> None:
    """Atomically point ``table_dir/_CURRENT`` at snapshot ``version``
    (tmp write + rename) — shared by the batch publish and the streaming
    CDC sink so the manifest format has exactly one owner."""
    tmp = os.path.join(table_dir, "_CURRENT.tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(str(version))
    os.replace(tmp, os.path.join(table_dir, "_CURRENT"))


def read_versioned(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read the current (manifest-resolved) or an explicit snapshot
    version of a table published with :func:`publish_versioned`."""
    if version is None:
        with open(
            os.path.join(table_dir, "_CURRENT"), encoding="utf-8"
        ) as f:
            version = int(f.read().strip())
    return spark.read.parquet(os.path.join(table_dir, f"v={version}"))
