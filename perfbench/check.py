"""Result checking against the library's DuckDB oracle.

A result is summarised as (row count, digest). The digest is order
insensitive: each row is normalised (columns sorted by name, floats
rounded to 6 places, dates as ISO text), hashed, and the row hashes are
sorted before the final hash, so the two engines agree whenever they
return the same multiset of rows.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os

import duckdb


def norm(v):
    """A value in the form both engines agree on."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        r = round(v, 6)
        return 0.0 if r == 0 else r
    if isinstance(v, decimal.Decimal):
        return norm(float(v))
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [norm(x) for x in v]
    if hasattr(v, "tolist"):  # numpy arrays and scalars
        return norm(v.tolist())
    return v


def row_hashes(columns: list[str], rows) -> list[str]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(
        hashlib.blake2b(
            repr([norm(row[i]) for i in order]).encode(), digest_size=12
        ).hexdigest()
        for row in rows
    )


def summary(columns: list[str], rows) -> dict:
    """{"rows": n, "digest": hex} for a result given as column names plus
    an iterable of row tuples."""
    hashes = row_hashes(columns, rows)
    h = hashlib.blake2b(digest_size=16)
    h.update(",".join(sorted(columns)).encode())
    for x in hashes:
        h.update(x.encode())
    return {"rows": len(hashes), "digest": h.hexdigest()}


def duck(data_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per parquet table in data_dir."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for fname in sorted(os.listdir(data_dir)):
        if fname.endswith(".parquet"):
            name = fname[: -len(".parquet")]
            path = os.path.join(data_dir, fname)
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def duck_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()
