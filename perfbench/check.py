"""Output checks, run once per benchmark run outside the timed passes.

Oracle-checkable queries are compared with DuckDB running the registry's
own SQL (``registry.oracle_sql()``) through ``tools/oracle_check.compare``
— row count, column names and order-insensitive exact values.  Rows-only
queries have no SQL oracle; their schema must equal the one recorded in
``expected_schemas.json`` and they must return rows.  Write ops are read
back from disk with DuckDB and checked against the same oracles.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import Future, ThreadPoolExecutor

import duckdb

from retail_sales_project_bigdata_spark import registry
from oracle_check import TABLES, compare

EXPECTED_SCHEMAS = os.path.join(os.path.dirname(__file__), "expected_schemas.json")


class Checker:
    def __init__(self, data_dir: str):
        self.pool = ThreadPoolExecutor(max_workers=1)  # sole user of self.con
        self.con = duckdb.connect()
        self.con.execute("SET threads = 1")
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        self.oracles = registry.oracle_sql()
        with open(EXPECTED_SCHEMAS) as fh:
            self.schemas = json.load(fh)

    def _sql(self, sql: str):
        return self.con.execute(sql).df()

    def _sink(self, path: str):
        return self._sql(
            f"SELECT * FROM read_parquet('{path}/**/*.parquet', "
            "hive_partitioning = true)"
        )

    def query(self, name: str, df) -> Future:
        """Problems with one query's output (empty when it is correct).

        Spark's side is collected here; the DuckDB query and the
        comparison run on a worker thread while Spark moves on."""
        if name in self.oracles:
            pdf = df.toPandas()
            return self.pool.submit(
                lambda: compare(pdf, self._sql(self.oracles[name]), name)
            )
        done: Future = Future()
        done.set_result(self._rows_only(name, df))
        return done

    def _rows_only(self, name: str, df) -> list[str]:
        problems = []
        schema = df.schema.simpleString()
        if schema != self.schemas.get(name):
            problems.append(f"schema {schema} != recorded {self.schemas.get(name)}")
        if df.count() == 0:
            problems.append("no rows")
        return problems

    def write(self, name: str, version: int, out_dir: str) -> list[str]:
        if name == "quality_publish":
            table_dir = os.path.join(out_dir, "quality")
            return self.pool.submit(self._published, "text_quality", version, table_dir).result()
        return [f"no check for write op {name}"]

    def close(self) -> None:
        self.pool.shutdown()
        self.con.close()

    def _published(self, oracle: str, version: int, table_dir: str) -> list[str]:
        """A fresh table's first publish must hold exactly the oracle's rows."""
        problems = [] if version == 1 else [f"version {version} != 1"]
        # the version directory reads back as a hive column ``v``
        pub = self._sink(os.path.join(table_dir, f"v={version}")).drop(columns="v")
        return problems + compare(pub, self._sql(self.oracles[oracle]), oracle)
