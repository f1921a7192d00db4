"""Result checks against the DuckDB oracles.

Each op's result is compared with its registered DuckDB oracle SQL by the
test suite's own ``tests/conftest.py::compare_spark_duckdb``, over DuckDB
views of the same tables the op read.
"""

from __future__ import annotations

import importlib.util
from pathlib import Path

import duckdb


def conftest(repo: Path):
    """The test suite's ``tests/conftest.py``, loaded as a module."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_conftest", repo / "tests" / "conftest.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Oracle:
    def __init__(self, repo: Path, sf_dir: str):
        self._suite = conftest(repo)
        self._con = duckdb.connect()
        for t in self._suite.TABLES:
            self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                              f"read_parquet('{sf_dir}/{t}.parquet')")

    def check(self, df, sql: str) -> None:
        """Raises AssertionError when the result differs from the oracle."""
        self._suite.compare_spark_duckdb(df, self._con, sql)

    def close(self) -> None:
        self._con.close()
