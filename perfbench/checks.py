"""Output checks: order-insensitive result fingerprints.

A registry row's Spark output and its DuckDB oracle output are reduced
to the same fingerprint: columns sorted by name, every value mapped to
a canonical string (numbers compare by value, floats bit-exactly, as
``tools/check_correctness.py`` compares them), rows sorted, then
hashed.  Two outputs match when row count and fingerprint match.
"""

from __future__ import annotations

import hashlib
import math
import os

REGISTRY_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def _canon(v) -> str:
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b" + str(v)
    if isinstance(v, (int, float)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        # ints wider than a double's mantissa keep their exact digits
        if isinstance(v, int) and abs(v) > 2**53:
            return "i" + str(v)
        return "f" + float.hex(f)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    return "s" + str(v)


def table_files(data_dir: str) -> dict[str, str]:
    """The registry tables present in ``data_dir``, with their files."""
    paths = {t: os.path.join(data_dir, f"{t}.parquet") for t in REGISTRY_TABLES}
    return {t: p for t, p in paths.items() if os.path.exists(p)}


def fingerprint(columns: list[str], rows) -> tuple[int, str]:
    """(row count, hex digest) of a result, independent of row order
    and column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    lines = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\x1f".join(columns[i].lower() for i in order).encode())
    for line in lines:
        h.update(b"\x1e")
        h.update(line.encode())
    return len(lines), h.hexdigest()


def spark_fingerprint(df) -> tuple[int, str]:
    return fingerprint(df.columns, [tuple(r) for r in df.collect()])


def oracle_fingerprints(data_dir: str, sql_by_row: dict[str, str]) -> dict[str, tuple[int, str]]:
    """Run each row's DuckDB oracle over the parquet files in
    ``data_dir``; a row whose oracle fails maps to ``(-1, error)``."""
    import duckdb

    con = duckdb.connect()
    try:
        for t, path in table_files(data_dir).items():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name, sql in sql_by_row.items():
            try:
                res = con.execute(sql)
                cols = [d[0] for d in res.description]
                out[name] = fingerprint(cols, res.fetchall())
            except duckdb.Error as e:
                out[name] = (-1, f"oracle error: {e}")
        return out
    finally:
        con.close()
