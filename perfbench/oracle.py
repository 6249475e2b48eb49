"""Output checks against the registry's DuckDB oracles.

A result is reduced to an order-insensitive digest of its rows, with columns
sorted by name and floats printed to 9 significant digits: the comparison
the repo's differential tests make (row count, column set, values).
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb


def _cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def digest(columns: list[str], rows) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(repr(tuple(_cell(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for line in canon:
        h.update(line.encode())
    return f"{len(canon)}:{h.hexdigest()}"


def spark_digest(df) -> str:
    """Collect ``df`` and return the digest of its rows."""
    return digest(df.columns, df.collect())


def oracle_digests(data_dir: str, sqls: dict[str, str]) -> dict[str, str]:
    """Run each oracle over the parquet tables in ``data_dir``; one connection per key."""
    out = {}
    for key, sql in sqls.items():
        con = duckdb.connect()
        try:
            con.sql("SET threads=2")
            for f in sorted(os.listdir(data_dir)):
                if f.endswith(".parquet"):
                    path = os.path.join(data_dir, f)
                    con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
            rel = con.sql(sql)
            out[key] = digest(rel.columns, rel.fetchall())
        finally:
            con.close()
    return out
