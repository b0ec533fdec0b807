"""Oracle comparison: run a query on Spark and its twin on DuckDB, then
compare row count, schema (column names) and the order-insensitive multiset
of values, bit-exactly.

Used by the oracle parity tests in tests/test_queries.py and, for norm_rows, by
perfbench/check.py.
"""

from __future__ import annotations

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def norm_cell(x) -> str:
    if isinstance(x, float):
        return repr(x)  # bit-exact canonical text
    return str(x)


def norm_rows(rows) -> list[tuple[str, ...]]:
    return sorted(tuple(norm_cell(c) for c in r) for r in rows)


def check(spark, con, fn, sf_dir: str, sql: str) -> list[str]:
    """Run one Spark query + its DuckDB oracle; return problems ([] = ok)."""
    df = fn(spark, sf_dir)
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
