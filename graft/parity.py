"""The DuckDB side of the oracle comparison: an opener for a data set and the
bit-exact normal form both engines' rows are compared in.

A data set is a directory of `<table>.parquet` entries, each a single file or
a directory of part files; duck_con opens it as graft.core.load() does.
norm_rows makes rows order-insensitive and floats bit-exact text.  The one
comparison is perfbench/check.py's Oracle, which the parity tests in
tests/test_queries.py call on a query's toArrow() result.
"""

from __future__ import annotations

import glob
import os

import duckdb


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A connection with one view per `<table>.parquet` entry in sf_dir; a
    directory is read through its `*.parquet` part files, which skips
    `_SUCCESS` and the `.crc` files."""
    con = duckdb.connect()
    for path in sorted(glob.glob(f"{sf_dir}/*.parquet")):
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        table = os.path.basename(path).removesuffix(".parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{src}')")
    return con


def norm_cell(x) -> str:
    if isinstance(x, float):
        return repr(x)  # bit-exact canonical text
    return str(x)


def norm_rows(rows) -> list[tuple[str, ...]]:
    return sorted(tuple(norm_cell(c) for c in r) for r in rows)

