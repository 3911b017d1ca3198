"""Local differential checker mimicking the driver's t2 gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, comparing row count, column names/types, and
exact values (order-insensitive). Reports per-query PASS/FAIL with diffs.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb  # noqa: E402

from nyc_opendata_etl_spark.queries import oracle_sql, queries  # noqa: E402
from nyc_opendata_etl_spark.session import get_spark  # noqa: E402


def _canon_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return str(v)


def _canon_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon_cell(r[i]) for i in idx) for r in rows]
    out.sort(key=lambda t: tuple((x is None, x or "") for x in t))
    return out


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per parquet table in ``sf_dir``."""
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def compare(spark_cols, spark_rows, duck_cols, duck_rows) -> list[str]:
    """The gate's compare: row count, column names, then canonicalized
    values, order-insensitive. Returns the problems found (empty = PASS)."""
    problems = []
    if len(spark_rows) != len(duck_rows):
        problems.append(f"rowcount spark={len(spark_rows)} duck={len(duck_rows)}")
    if sorted(spark_cols) != sorted(duck_cols):
        problems.append(f"cols spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
    if not problems:
        a = _canon_rows(spark_cols, [tuple(r) for r in spark_rows])
        b = _canon_rows(duck_cols, duck_rows)
        if a != b:
            diffs = [(x, y) for x, y in zip(a, b) if x != y]
            problems.append(
                f"values differ ({len(diffs)} rows); first: "
                f"{diffs[0] if diffs else '(row set mismatch)'}"
            )
            only_a = [r for r in a if r not in set(b)][:2]
            only_b = [r for r in b if r not in set(a)][:2]
            if only_a or only_b:
                problems.append(f"spark-only={only_a} duck-only={only_b}")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("check-correctness")
    con = oracle_connection(sf_dir)

    qs = queries()
    oracles = oracle_sql()
    failures = []
    # a typo'd name in a recheck list must not report a clean gate
    unknown = sorted(only - set(qs))
    for name in unknown:
        print(f"FAIL {name}: not a registered query")
        failures.append(name)
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spark_rows = sdf.collect()
            spark_cols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(spark_rows)} rows, "
                  f"{time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(oracles[name])
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        problems = compare(spark_cols, spark_rows, duck_cols, duck_rows)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures.append(name)
        else:
            print(f"PASS {name} ({len(spark_rows)} rows, {time.time()-t0:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
