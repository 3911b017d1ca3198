"""Order-insensitive comparison of engine outputs with DuckDB oracles."""

from __future__ import annotations

import math
from collections import Counter

import duckdb


def _cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(str(_cell(x)) for x in v) + "]"
    return str(v)


def canonical(cols: list[str], rows) -> Counter:
    """The rows as a multiset of tuples, columns in name order, each cell
    rendered exactly (floats by ``repr``), so row order and column order
    do not matter and nothing is rounded."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_cell(r[i]) for i in order) for r in rows)


def same(cols_a, rows_a, cols_b, rows_b) -> bool:
    return sorted(cols_a) == sorted(cols_b) and canonical(cols_a, rows_a) == canonical(cols_b, rows_b)


class Oracle:
    """DuckDB views over a data directory; caches each oracle's answer."""

    def __init__(self, data_dir: str, tables: tuple[str, ...]):
        self._con = duckdb.connect()
        for t in tables:
            self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        self._cache: dict[str, tuple[list[str], list[tuple]]] = {}

    def answer(self, sql: str) -> tuple[list[str], list[tuple]]:
        if sql not in self._cache:
            res = self._con.execute(sql)
            self._cache[sql] = ([d[0] for d in res.description], res.fetchall())
        return self._cache[sql]

    def matches(self, df, sql: str) -> bool:
        """True when the Spark DataFrame ``df`` holds exactly the oracle's rows."""
        cols, rows = self.answer(sql)
        return same(df.columns, [tuple(r) for r in df.collect()], cols, rows)

    def matches_files(self, path: str, sql: str) -> bool:
        """True when the parquet files in directory ``path`` hold exactly
        the oracle's rows.  Compared inside DuckDB, as multisets both ways,
        so a large output never crosses into Python."""
        con = self._con
        got = f"read_parquet('{path}/*.parquet')"
        want_cols = [d[0] for d in con.execute(f"SELECT * FROM ({sql}) LIMIT 0").description]
        got_cols = [d[0] for d in con.execute(f"SELECT * FROM {got} LIMIT 0").description]
        if sorted(got_cols) != sorted(want_cols):
            return False
        cols = ", ".join(f'"{c}"' for c in want_cols)
        a, b = f"SELECT {cols} FROM {got}", f"SELECT {cols} FROM ({sql})"
        diff = con.execute(f"SELECT count(*) FROM (({a} EXCEPT ALL {b}) UNION ALL ({b} EXCEPT ALL {a}))")
        return diff.fetchone()[0] == 0

    def close(self) -> None:
        self._con.close()
