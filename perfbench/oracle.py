"""Result hashing in the query inventory's oracle convention, and the
DuckDB side that computes expected hashes before any timing starts.

Convention (as the inventory's DuckDB gate compares results): columns
sorted by name, each cell normalised (floats to 6 decimals, NaN spelled
out, arrays joined), rows sorted, then hashed with the column names and
the row count.
"""

from __future__ import annotations

import hashlib
import math
import os

from datagen import TABLES


def _cell(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6f}"
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def result_hash(pdf) -> str:
    cols = sorted(pdf.columns)
    rows = sorted(tuple(_cell(v) for v in row)
                  for row in pdf[cols].itertuples(index=False, name=None))
    h = hashlib.sha256(repr((cols, len(rows))).encode())
    for row in rows:
        h.update(repr(row).encode())
    return h.hexdigest()


class Oracle:
    """DuckDB over the generated tables; ``expected`` memoises one hash
    per distinct statement text, so each (statement, seed) runs once."""

    def __init__(self, data_dir: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads = 4")
        for t in TABLES:
            if not os.path.exists(f"{data_dir}/{t}.parquet"):
                continue
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{data_dir}/{t}.parquet')")
        self._memo: dict[str, str] = {}

    def frame(self, sql: str):
        return self.con.execute(sql).fetchdf()

    def expected(self, sql: str) -> str:
        h = self._memo.get(sql)
        if h is None:
            h = self._memo[sql] = result_hash(self.frame(sql))
        return h

    def scalar_row(self, sql: str) -> tuple:
        return tuple(self.con.execute(sql).fetchone())

    def close(self) -> None:
        self.con.close()
