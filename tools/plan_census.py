"""Full-registry physical-plan node census: one row per registered
query counting Exchange / scan / Python-boundary / join / window nodes
in the formatted physical plan, the boundedness class of each
partition-less Window, plus plan errors.

The optimization-round triage artifact: queries whose census row shows
no Exchange, no Python boundary and one scan are scan-local expression
work with nothing to remove; high Exchange/scan counts mark the plans
worth reading. Also the registry-wide anti-pattern audits in one pass:

- ``cartesian``: queries with a CartesianProduct node, the unbounded
  all-pairs join. Every deliberate cross join here broadcasts a
  provably tiny side and plans as BroadcastNestedLoopJoin, so expect
  an empty list; the crossJoin users are pinned in
  tests/test_plans.py (test_no_cartesian_products).
- ``global_windows``: query -> classes of its partition-less Windows
  (plans/inspect.global_window_classes). A global window runs as a
  single-task sort, so each site must prove its input bounded; the
  known sites are pinned in tests/test_plans.py
  (test_global_windows_are_bounded) and an unlisted one is a finding.
- ``batch_eval_python``: expect none (Arrow nodes only in the
  documented codec/tokenizer kernels).

Usage:
    python tools/plan_census.py [sf_dir] [out_json]

Prints one JSON summary line: ``queries``, ``errors``, ``cartesian``,
``global_windows``, ``batch_eval_python``. Per-query rows go to
``out_json``.
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from nyc_opendata_etl_spark.plans.inspect import (  # noqa: E402
    formatted_plan,
    global_window_classes,
)
from nyc_opendata_etl_spark.queries import queries  # noqa: E402
from tools.harness import session  # noqa: E402


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/plan_census.json"
    spark = session("plan-census")
    out: dict[str, dict] = {}
    for name, fn in sorted(queries().items()):
        try:
            df = fn(spark, sf)
            p = formatted_plan(df)
            windows = global_window_classes(df)
        except Exception as e:  # census rows must cover every query
            out[name] = {"error": str(e)[:120]}
            continue
        out[name] = {
            "exchange": len(re.findall(r"\bExchange\b", p)),
            "bexchange": p.count("BroadcastExchange"),
            "scans": sum(
                p.count(f"Scan {fmt}") for fmt in ("parquet", "csv", "orc", "json", "text")
            ),
            "rdd": p.count("Scan ExistingRDD"),
            "py": p.count("BatchEvalPython"),
            "arrow": p.count("ArrowEvalPython")
            + p.count("MapInPandas")
            + p.count("FlatMapGroupsInPandas"),
            "cart": p.count("CartesianProduct"),
            "bnlj": p.count("BroadcastNestedLoopJoin"),
            "smj": p.count("SortMergeJoin"),
            "window": len(re.findall(r"\bWindow\b", p)),
            "global_windows": windows,
        }
    json.dump(out, open(out_path, "w"), indent=0)
    errs = [k for k, v in out.items() if "error" in v]
    carts = [k for k, v in out.items() if v.get("cart")]
    windows = {k: v["global_windows"] for k, v in out.items() if v.get("global_windows")}
    pys = [k for k, v in out.items() if v.get("py")]
    print(
        json.dumps(
            {
                "queries": len(out),
                "errors": errs,
                "cartesian": carts,
                "global_windows": windows,
                "batch_eval_python": pys,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
