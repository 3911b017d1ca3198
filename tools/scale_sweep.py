"""Scale-sweep harness: run registered queries against a replica dir,
one SUBPROCESS per query, and report wall time / rows / failure class.

This codifies the round-7 sweep that found the duplicate-skew defects
(containment OOM, jaccard grind, embedding-LSH worker crash — see
BASELINE.md "Round 7" sections). Subprocess isolation is the point: a
worker OOM or a disk-full abort poisons a Spark session, so in-session
sweeps silently fail everything after the first casualty.

Usage:
    python tools/build_scale_replica.py /root/testdata/sf0.1 /tmp/spark_graft_sf10 100
    python tools/scale_sweep.py /tmp/spark_graft_sf10 [query ...]
    python tools/scale_sweep.py /tmp/spark_graft_sf10 --timeout 600

With no query names, sweeps every registered query. Output: one JSON
line per query {"query", "status": ok|error|timeout, "sec", "rows"},
plus a summary line. Queries that legitimately need cluster resources
at 100× are documented in BASELINE.md (market_basket_pairs: distinct-
pair state past one box's disk; dedup_embedding_cosine: O(n²) by
design) — a timeout/error here is a finding to triage, not necessarily
a defect.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

_REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO_ROOT))

# The child times count(), not measure()'s noop write: sweep rows carry
# the output row count that tools/output_scale_audit.py reads.
_CHILD = r"""
import json, sys, time
from nyc_opendata_etl_spark.queries import queries
from tools.harness import session
name, sf_dir = sys.argv[1], sys.argv[2]
s = session("scale-sweep")
t = time.time()
n = queries()[name](s, sf_dir).count()
print("SWEEP_RESULT " + json.dumps(
    {"query": name, "status": "ok", "sec": round(time.time() - t, 2), "rows": n}
))
"""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("names", nargs="*")
    ap.add_argument("--timeout", type=int, default=600)
    args = ap.parse_intermixed_args()
    sf_dir, names, timeout = args.sf_dir, args.names, args.timeout
    if not names:
        from nyc_opendata_etl_spark.queries import queries

        names = list(queries())

    results = []
    for name in names:
        # Scope all of the child's Spark scratch (blockmgr-*, spark-*)
        # to a per-child local dir so post-mortem cleanup can't touch
        # any other Spark session's live shuffle dirs on this host.
        # SPARK_GRAFT_STAGE_ROOT pins the staged-artifact root to the
        # PARENT's temp dir: without it the TMPDIR pin makes every
        # child resolve an empty stage root, rebuild each write-time
        # index from scratch, and delete it with child_tmp — so staged
        # queries were recorded build-inclusive on every sweep and the
        # build was never amortized across children or rounds.
        child_tmp = tempfile.mkdtemp(prefix=f"sweep-{name[:40]}-")
        stage_root = os.environ.get("SPARK_GRAFT_STAGE_ROOT") or tempfile.gettempdir()
        child_env = dict(
            os.environ,
            SPARK_LOCAL_DIRS=child_tmp,
            TMPDIR=child_tmp,
            SPARK_GRAFT_STAGE_ROOT=stage_root,
        )
        try:
            proc = subprocess.run(
                [sys.executable, "-c", _CHILD, name, sf_dir],
                capture_output=True,
                text=True,
                timeout=timeout,
                env=child_env,
                cwd=str(_REPO_ROOT),
            )
            line = next(
                (l for l in proc.stdout.splitlines() if l.startswith("SWEEP_RESULT ")),
                None,
            )
            if line:
                res = json.loads(line[len("SWEEP_RESULT "):])
            else:
                tail = (proc.stderr or proc.stdout).strip().splitlines()[-15:]
                err = next(
                    (l for l in reversed(tail) if "Error" in l or "error" in l),
                    tail[-1] if tail else "no output",
                )
                res = {"query": name, "status": "error", "detail": err[:300]}
        except subprocess.TimeoutExpired:
            res = {"query": name, "status": "timeout", "sec": timeout}
        finally:
            # A killed/crashed child leaves orphaned shuffle dirs that
            # would eat the disk for every subsequent query (the
            # round-7 sweep lost 77 GB to one). Because the child's
            # SPARK_LOCAL_DIRS/TMPDIR were pinned to child_tmp, deleting
            # exactly that dir reclaims its scratch without touching any
            # other Spark session's live temp dirs on the host.
            shutil.rmtree(child_tmp, ignore_errors=True)
        results.append(res)
        print(json.dumps(res), flush=True)

    bad = [r for r in results if r["status"] != "ok"]
    print(
        json.dumps(
            {
                "summary": "scale_sweep",
                "sf_dir": sf_dir,
                "n": len(results),
                "ok": len(results) - len(bad),
                "failed": [r["query"] for r in bad],
            }
        )
    )


if __name__ == "__main__":
    main()
