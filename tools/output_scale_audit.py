"""Audit registered queries for super-linear OUTPUT growth.

Wall-time sweeps miss a whole defect class: a query whose wall is
linear but whose RESULT SET grows quadratically with input (the
round-9 MinHash finding — 44.6M pairs at the 100x replica from
C(g,2)-per-band duplicate blowup, found by auditing row counts, not
seconds). This tool compares each query's sf0.01 output rows (from the
committed CORRECTNESS_r*.json files) against its 100x-replica rows
(from a scale-sweep artifact) and flags ratios far above the input
scale-up.

Interpretation guide (NOT every flag is a bug):
- pair-generators growing with duplicate multiplicity -> collapse-first
  defect (fix it);
- interval/band joins growing ~quadratically on the SAME-RANGE replica
  -> density artifact or inherent semantics; check the extend-time
  replica and document which;
- one-row-per-input outputs (cluster labels, dedup verdicts) ->
  exactly linear, expected.

Usage:
    python tools/output_scale_audit.py [sweep.jsonl] [--ratio N]
                                       (default SCALE_SWEEP_100X_FULL_r09.jsonl,
                                        input scale 1000x sf0.01, flag > 1.5x that)
"""

from __future__ import annotations

import argparse
import glob
import json
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "sweep", nargs="?", default=str(ROOT / "SCALE_SWEEP_100X_FULL_r09.jsonl")
    )
    ap.add_argument("--ratio", type=float, default=1500.0)
    args = ap.parse_args()
    sweep_path, ratio_floor = args.sweep, args.ratio

    rows_small: dict[str, int] = {}
    # ALL rounds, later overriding earlier (the original "r0*" glob
    # stopped at round 9, silently exempting every query first
    # verified in r10+ from the audit — 33 of 223 at r16; zero-padded
    # names keep the lexicographic sort round-ordered)
    for f in sorted(glob.glob(str(ROOT / "CORRECTNESS_r*.json"))):
        for q, d in json.load(open(f)).items():
            if d.get("spark_rows") is not None:
                rows_small[q] = d["spark_rows"]

    flagged = []
    for line in open(sweep_path):
        r = json.loads(line)
        q, big = r.get("query"), r.get("rows")
        if not q or not big:
            continue
        small = rows_small.get(q)
        if small is None:
            continue
        ratio = big / max(small, 1)
        if ratio > ratio_floor:
            flagged.append((ratio, q, small, big))

    for ratio, q, small, big in sorted(flagged, reverse=True):
        print(
            json.dumps(
                {
                    "query": q,
                    "rows_sf001": small,
                    "rows_100x": big,
                    "output_ratio": round(ratio),
                }
            )
        )
    print(
        json.dumps(
            {
                "summary": "output_scale_audit",
                "sweep": sweep_path,
                "ratio_floor": ratio_floor,
                "flagged": len(flagged),
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
