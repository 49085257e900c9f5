"""The registry sweep: every ``queries()`` entry is built once at
sf0.001 (``tests.conftest.registry_run``) and checked against what the
engine promises of it.

The oracle comparison is a faster local version of the driver's
CORRECTNESS gate (which runs at sf0.01 — tools/oracle_check.py covers
that interactively).  The micro-batch plans of the streaming queries
are checked in tests/test_streaming_plans.py from the same builds.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import (
    SF_SMALL,
    assert_microbatch_plans_within_budget,
    registry_run,
)

_QUERIES = entrymod.queries()
_ORACLES = entrymod.oracle_sql()


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_query_runs(spark, duck, name):
    """Every query builds and runs inside ``registry.query_scope``,
    leaving nothing behind (the driver runs the same weaker rows-only
    check for entries without an oracle), and keeps the output
    convention: the driver's correctness gate may check any registry
    entry, and it canonicalizes results with a pandas sort that dies on
    list cells (round-6 ``embedding_quantize_int8`` red row:
    ``TypeError: unhashable type: 'list'``).  So registered outputs
    carry SCALAR top-level columns only — serialize arrays with
    ``array_join`` (DuckDB mirror ``array_to_string``) or explode; keep
    typed-array forms as non-registered library functions (e.g.
    ``embedding_quantize_int8_vectors``).  Any stream the build starts
    must keep its micro-batch plans within the batch budgets."""
    run = registry_run(spark, duck, name)
    assert run.columns
    assert not run.complex_cols, (
        f"{name} returns complex-typed top-level column(s)"
        f" {run.complex_cols}: the correctness gate cannot canonicalize"
        " list/struct cells — serialize them (array_join / to_json)"
        " in the registered query and keep the typed form as a"
        " library function"
    )
    assert_microbatch_plans_within_budget(name, run)


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_oracle_parity(spark, duck, name):
    """Row count, columns and order-insensitive values match DuckDB
    (the comparison tools/oracle_check.py and the driver's gate make)."""
    problems = registry_run(spark, duck, name).oracle_problems
    assert not problems, problems


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_package_shipped_to_python_workers(spark):
    """Module-level functions inside mapInPandas/applyInPandas are
    pickled by reference, so Python workers must be able to import this
    package.  In local mode that silently works only while the driver's
    cwd is the repo root (``python -m pyspark.daemon`` prepends the
    daemon's cwd); the round driver loads ``__spark_entry__.py`` by path
    from a foreign cwd, where round-7's gate queries ``frame_sample`` /
    ``media_stats_by_modality`` raised ModuleNotFoundError in the worker
    until ``session.ensure_package_on_workers`` shipped a package zip
    through addPyFile.  Assert the ship actually happens on the shared
    read path (test_entry_loaded_by_path_from_foreign_cwd is the
    end-to-end proof)."""
    from retail_sales_project_bigdata_spark.sources import read_table

    read_table(spark, SF_SMALL, "region")
    assert any(
        "retail_sales_project_bigdata_spark_pkg" in f
        for f in spark.sparkContext.listFiles
    )


def test_second_read_asks_no_application_id(spark, monkeypatch):
    """``ensure_package_on_workers`` remembers shipped contexts by
    object, so a read on a context that already has the zip spends no
    py4j round trips on ``sc.applicationId``."""
    from pyspark import SparkContext

    from retail_sales_project_bigdata_spark.sources import read_table

    read_table(spark, SF_SMALL, "region")
    calls = []
    app_id = SparkContext.applicationId.fget

    def counted(sc):
        calls.append(1)
        return app_id(sc)

    monkeypatch.setattr(SparkContext, "applicationId", property(counted))
    read_table(spark, SF_SMALL, "region")
    assert not calls


_FOREIGN_CWD_SCRIPT = """
import importlib.util, sys
spec = importlib.util.spec_from_file_location("__spark_entry__", sys.argv[1])
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)
from retail_sales_project_bigdata_spark.session import get_spark
spark = get_spark("foreign_cwd", shuffle_partitions=2)
entry_rows = len(mod.entry(spark).collect())
media = mod.queries()["media_stats_by_modality"](spark, sys.argv[2])
print("ROWS", entry_rows, len(media.collect()))
"""


def test_entry_loaded_by_path_from_foreign_cwd(tmp_path):
    """The driver loads ``__spark_entry__.py`` by file path from a cwd
    outside the repo.  The entry module must bootstrap ``sys.path``
    itself, and the Python workers (whose cwd is the JVM's) must import
    the shipped package: ``media_stats_by_modality`` is a mapInPandas
    query that raised ModuleNotFoundError in the worker in round 7."""
    import os
    import subprocess
    import sys

    entry_path = os.path.abspath(entrymod.__file__)
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    env.pop("PYTHONPATH", None)  # the repo must come from the entry module
    out = subprocess.run(
        [sys.executable, "-c", _FOREIGN_CWD_SCRIPT, entry_path, SF_SMALL],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = [x for x in out.stdout.splitlines() if x.startswith("ROWS ")][-1]
    entry_rows, media_rows = map(int, line.split()[1:])
    assert entry_rows > 0
    assert media_rows > 0
