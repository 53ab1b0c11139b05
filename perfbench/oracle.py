"""DuckDB side of the correctness checks: run SQL over a staged table
directory and compare result multisets with the engine's output."""

from __future__ import annotations

import datetime
import decimal
import math
import os

import duckdb


def _norm(v):
    if isinstance(v, float):
        return None if math.isnan(v) else float(f"{v:.9g}")
    if isinstance(v, decimal.Decimal):
        return float(f"{float(v):.9g}")
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        return _norm(v.tolist())
    return v


def canon(rows) -> list[tuple]:
    """Rows as a sorted multiset of normalized tuples: floats to 9
    significant digits, decimals as floats, temporal values as text."""
    return sorted((tuple(_norm(x) for x in r) for r in rows), key=repr)


class Duck:
    """One in-memory DuckDB connection with a view per parquet table."""

    def __init__(self) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")

    def attach_dir(self, directory: str) -> None:
        for fname in sorted(os.listdir(directory)):
            if fname.endswith(".parquet"):
                name = fname[: -len(".parquet")]
                self.con.execute(
                    f"CREATE OR REPLACE VIEW {name} AS "
                    f"SELECT * FROM read_parquet('{directory}/{fname}')"
                )

    def rows(self, sql: str) -> list[tuple]:
        return canon(self.con.execute(sql).fetchall())

    def close(self) -> None:
        self.con.close()
