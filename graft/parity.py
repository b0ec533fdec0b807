"""Oracle comparison: run a query on Spark and its twin on DuckDB, then
compare row count, schema (column names) and the order-insensitive multiset
of values, bit-exactly.

A data set is a directory of `<table>.parquet` entries, each a single file or
a directory of part files; duck_con opens it as graft.core.load() does.  Used
by the oracle parity tests in tests/test_queries.py and, for norm_rows, by
perfbench/check.py.
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


def check(df, con, sql: str) -> list[str]:
    """Collect a Spark query and run its DuckDB oracle; return problems ([] = ok)."""
    scols = [c.lower() for c in df.columns]
    srows = [tuple(r) for r in df.collect()]
    cur = con.execute(sql)
    dcols = [d[0].lower() for d in cur.description]
    drows = cur.fetchall()
    problems: list[str] = []
    if scols != dcols:
        problems.append(f"schema {scols} != {dcols}")
    if len(srows) != len(drows):
        problems.append(f"rowcount {len(srows)} != {len(drows)}")
    ns, nd = norm_rows(srows), norm_rows(drows)
    if ns != nd:
        problems.append("VALUES MISMATCH")
        for a, b in zip(ns, nd):
            if a != b:
                problems.append(f"spark={a}")
                problems.append(f"duck ={b}")
                break
    return problems
