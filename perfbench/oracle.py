"""DuckDB oracles and the order-insensitive result digest.

A result matches its oracle when both have the same columns, the same row
count and the same hash over their sorted canonical rows — the check the
repository's own oracle tests make, reduced to a digest so that a
mismatch costs one comparison.
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os

import duckdb

# Final state of salesdb.orders after its whole changelog (the synthetic
# Debezium spec: updates on key % 3 == 0 scale the price by 1.1, deletes on
# key % 7 == 0) — last write wins per key.
ORDERS_FINAL_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1
            ELSE o_totalprice END AS o_totalprice,
       o_orderdate, o_orderpriority
FROM orders WHERE o_orderkey % 7 != 0
"""

CUSTOMER_FINAL_SQL = "SELECT * FROM customer"


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def digest(rows, columns) -> tuple[int, str]:
    """(row count, sha256 over the sorted canonical rows) of dict-like rows,
    read in the order of `columns`."""
    lines = sorted("\x1f".join(canon(r[c]) for c in columns) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            name = f[: -len(".parquet")]
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{f}'"
            )
    return con


def oracle_rows(con, sql: str) -> tuple[list[str], list[dict]]:
    tbl = con.execute(sql).arrow()
    return list(tbl.column_names), tbl.to_pylist()


def rows_match(rows, columns, con, sql: str) -> tuple[bool, str]:
    """Do collected Spark `rows` with `columns` equal the oracle query?
    Returns (ok, detail)."""
    cols, expected = oracle_rows(con, sql)
    if sorted(cols) != sorted(columns):
        return False, f"columns {sorted(columns)} != oracle {sorted(cols)}"
    cols = sorted(cols)
    got = digest((r.asDict() for r in rows), cols)
    want = digest(expected, cols)
    if got != want:
        return False, f"rows/hash {got} != oracle {want}"
    return True, ""
