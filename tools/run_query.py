"""Run any registered query by name from the command line.

Usage:
    python tools/run_query.py <query_name> [sf_dir] [--rows N] [--explain]
    python tools/run_query.py --list

Examples:
    python tools/run_query.py q1_pricing_summary
    python tools/run_query.py dedup_minhash_lsh /root/testdata/sf0.01 --rows 5
    python tools/run_query.py q8_market_share --explain
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("name", nargs="?", help="query name from the registry")
    ap.add_argument(
        "sf_dir",
        nargs="?",
        default="/root/testdata/sf0.01",
        help="table directory (default sf0.01)",
    )
    ap.add_argument("--rows", type=int, default=20, help="rows to show")
    ap.add_argument(
        "--explain", action="store_true", help="print the physical plan too"
    )
    ap.add_argument("--list", action="store_true", help="list registered queries")
    args = ap.parse_args()

    from nyc_opendata_etl_spark.queries import queries

    qs = queries()
    if args.list or not args.name:
        for n in qs:
            print(n)
        return 0
    if args.name not in qs:
        import difflib

        close = difflib.get_close_matches(args.name, qs, n=5)
        print(f"unknown query {args.name!r}; close matches: {close}", file=sys.stderr)
        return 2

    from tools.harness import session

    spark = session("run_query")
    df = qs[args.name](spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    # Time ONE full execution (the count); the row preview afterwards
    # is a second, untimed execution. Timing both together doubled the
    # reported wall for every query and made warm-replay numbers look
    # 2x worse than the sweep's single-execution protocol.
    t0 = time.time()
    n = df.count()
    dt = time.time() - t0
    for r in df.limit(args.rows).collect():
        print(r)
    print(f"-- {n} rows total ({min(n, args.rows)} shown) in {dt:.2f}s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
