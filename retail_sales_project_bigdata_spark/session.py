"""SparkSession factory.

The reference creates bare sessions per job
(``FullPreprocessingPipeline.java:34-36``, ``ChurnPrediction.java:44-49``).
The rebuild centralizes session construction with scale-aware defaults:
AQE (runtime coalescing + skew-join splitting), UTC session timezone (oracle
parity with DuckDB), Arrow for any pandas exchange, shuffle parallelism
sized to the machine instead of Spark's default 200, and a generated-class
cache (``spark.sql.codegen.cache.maxEntries``) that holds every class one
pass over the registry compiles, so a query shape that runs again reuses
its classes instead of recompiling them.

It also turns PySpark's DataFrame debugging off
(``spark.python.sql.dataFrameDebugging.enabled``).  When on, PySpark's
default, every Column and ``functions.*`` call walks the Python stack
and adds ~10 py4j round trips to record its file and line for error
messages: 55% of the py4j commands that building the retail reports
sends.  Off, errors keep their class and message and lose only that
file and line.  PySpark reads the setting once per process, so to get
call sites back start a fresh process with
``get_spark(extra_conf={"spark.python.sql.dataFrameDebugging.enabled":
"true"})``; a session this factory did not build keeps PySpark's
default.

On a real cluster the same factory applies — only ``master`` and the memory
settings come from spark-submit instead.  Static confs (the driver heap,
the generated-class cache size) take effect only when this factory
launches the JVM; a ``spark-submit`` owner sets them on its own command
line.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession

# Cores of the local master; also the default shuffle parallelism.
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "retail_sales_project_bigdata_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Return the live SparkSession unchanged, or build one with
    scale-appropriate defaults.

    The arguments and defaults below apply only when this call creates
    the session.  A live session keeps its conf: re-applying the builder
    options through ``getOrCreate`` would reset what its owner set (say,
    ``spark.sql.shuffle.partitions``) under every other user of it.

    AQE handles runtime re-planning (partition coalescing, skew joins,
    broadcast conversion) so the same logical plans survive a 100× scale-up:
    at sf0.1 local the shuffles coalesce down; at 100 TB on a cluster the
    same code runs with ``spark.sql.shuffle.partitions`` sized by the
    submitter and AQE splitting skewed partitions.
    """
    live = SparkSession._instantiatedSession  # Builder.getOrCreate's check
    if live is not None and live._sc._jsc is not None:
        return live
    builder = (
        SparkSession.builder.appName(app_name)
        # local-mode heap: the ONE driver JVM hosts all executor threads,
        # every shuffle buffer, broadcast, and cached frame.  PySpark's
        # unset default is 1 GiB — running local[32] in that budget
        # caused GCLocker allocation stalls and, at 186 queries × 3
        # bench passes, a broadcast-build OOM.  Size it to the machine
        # (only applies when this process launches the JVM; on a real
        # cluster spark-submit owns the memory settings).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        )
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or CPUS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Spark keeps compiled whole-stage and expression classes in one
        # JVM-wide LRU keyed by their source (static conf, default 100).
        # The 9 retail reports alone need ~135, so at the default every
        # warm pass recompiled all of them.  One pass over the whole
        # registry at sf0.01 (profiling.profile_query per query, local[4])
        # compiled 2,777 distinct classes; later passes compiled 27-33
        # more, from 11 queries whose generated code differs between
        # runs.  4096 holds that with room for the registry to
        # grow.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # A whole-stage class is named after its codegen stage id, and
        # AQE numbers stages in the order their inputs finish, which
        # varies from run to run: the same pipeline then compiles again
        # under a new name (rfm recompiled 4 of its 25 classes on some
        # warm runs; the registry pass's distinct count was 3,254 with
        # the id in the name, 2,777 without).
        .config("spark.sql.codegen.useIdInClassName", "false")
        # PySpark wraps every Column and ``functions.*`` call to record
        # its Python call site for error messages: an active-session
        # lookup, a conf read, a set and a clear on the JVM, and a stack
        # walk.  Building the 9 retail reports once sent 4,832 py4j
        # commands with it and 2,152 without (perfbench data, local[4]).
        # Errors keep their class and message; see the module docstring.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # InferFiltersFromGenerate clones the generator's child expression
        # into a pre-Generate Filter (size(e)>0 AND isnotnull(e)).  When
        # that child is a higher-order function (shingling: transform over
        # sequence), the clone is (a) interpreted, not codegen'd, and (b)
        # pushed below any repartition — so the most expensive expression
        # in the plan is evaluated 3× per row on the scan's (possibly
        # single-partition) side.  Our explodes are over arrays that are
        # almost never empty, so the inferred skip-empty filter saves
        # nothing and costs 5× on the MinHash pipeline; exclude the rule.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    if master is not None:
        builder = builder.master(master)
    elif os.environ.get("SPARK_MASTER"):
        builder = builder.master(os.environ["SPARK_MASTER"])
    else:
        builder = builder.master(f"local[{CPUS}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# SparkContexts that already had the package zip shipped, held weakly:
# a stopped context drops out with its last reference, and asking a live
# one for its application id would cost 2 py4j commands per read.
# Guarded by _PKG_LOCK: two threads racing through a first read_table
# would otherwise both pass the membership check and addPyFile the same
# name twice (Spark rejects a re-registration).  The zip itself is built
# ONCE per Python process and reused across contexts; its staging dir is
# removed at interpreter exit.
_PKG_SHIPPED: weakref.WeakSet = weakref.WeakSet()
_PKG_ZIP_PATH: list[str] = []  # lazily-built singleton [path]
import threading as _threading  # noqa: E402

_PKG_LOCK = _threading.Lock()


def _package_zip() -> str:
    # Built once per Python process and cached: workers see the
    # IMPORT-TIME snapshot of the package for the life of the process.
    # Fine for the driver/bench/tests (fresh process per run); in a
    # long-lived interactive session, source edits after the first
    # Arrow-boundary query require a new interpreter (or clearing
    # _PKG_ZIP_PATH/_PKG_SHIPPED) to reach the workers.  (VERDICT r7
    # item 7.)
    if not _PKG_ZIP_PATH:
        import atexit
        import shutil
        import tempfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        staging = tempfile.mkdtemp(prefix="pkg_ship_")
        atexit.register(shutil.rmtree, staging, ignore_errors=True)
        zip_base = os.path.join(
            staging, "retail_sales_project_bigdata_spark_pkg"
        )
        _PKG_ZIP_PATH.append(
            shutil.make_archive(
                zip_base,
                "zip",
                root_dir=os.path.dirname(pkg_dir),
                base_dir=os.path.basename(pkg_dir),
            )
        )
    return _PKG_ZIP_PATH[0]


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship this package to the Python workers via ``addPyFile`` — once
    per SparkContext.

    Why: module-level functions used inside ``mapInPandas`` /
    ``applyInPandas(WithState)`` are pickled BY REFERENCE, so every
    Python worker must be able to ``import retail_sales_project_bigdata_spark``.
    In local mode that silently works only when the driver's cwd is the
    repo root: the JVM launches workers with ``python -m pyspark.daemon``,
    and ``-m`` prepends the daemon's cwd (= the driver JVM's cwd) to
    ``sys.path``.  A driver that loads ``__spark_entry__.py`` by file
    path from a foreign cwd (exactly what the round driver does) gets
    ``ModuleNotFoundError`` from every Arrow-boundary query.  Shipping a
    package zip through the standard ``addPyFile`` channel makes the
    contract hold from ANY cwd — and is the same mechanism a real
    cluster deployment uses, so nothing here is local-mode-specific.

    Called from ``sources.read_table`` (the entry point every query
    shares); one zip of the pure-Python package (~a few hundred KB),
    built once per process in a temp dir that is removed at interpreter
    exit, fetched once per worker.
    """
    sc = spark.sparkContext
    if sc in _PKG_SHIPPED:
        return
    with _PKG_LOCK:
        if sc in _PKG_SHIPPED:
            return
        sc.addPyFile(_package_zip())
        _PKG_SHIPPED.add(sc)
