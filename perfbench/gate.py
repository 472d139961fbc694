"""Oracle gate: compare a query result with its DuckDB oracle SQL.

The comparison is the strict one the test suite uses
(``tests/oracle.py::assert_matches``: same columns, same row count,
exact values, floats bit-for-bit).  The gate only caps DuckDB's threads,
so the oracle does not oversubscribe the cores the engine runs on.
"""

from __future__ import annotations

import contextlib

from tests import oracle


@contextlib.contextmanager
def _duckdb_threads(threads: int):
    real = oracle.duckdb

    class _Capped:
        @staticmethod
        def connect(*args, **kwargs):
            con = real.connect(*args, **kwargs)
            con.execute(f"SET threads = {int(threads)}")
            return con

    oracle.duckdb = _Capped
    try:
        yield
    finally:
        oracle.duckdb = real


def check(df, sql: str, data_dir: str, threads: int) -> None:
    """Raise ``AssertionError`` when ``df`` differs from the oracle."""
    with _duckdb_threads(threads):
        oracle.assert_matches(df, sql, data_dir)
