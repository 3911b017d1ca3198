"""Optimization-round profiler: warm per-query timings, job counts and
plans.

For each named query: run it via the noop sink ``reps`` times in one
warm session. Each repetition prints its time split into construction
and execution, plus the Spark jobs, stages and tasks it ran (from the
app status store, which sees jobs from every thread, Structured
Streaming micro-batch threads included, where job-group tagging can't
reach). A summary line per query gives min/median seconds. Optionally
dump ``explain('formatted')`` to plans/<tag>/<query>_<suffix>.txt.

Usage:
    python tools/opt_profile.py [--sf DIR] [--reps N] [--plans TAG:SUFFIX]
                                [--conf k=v ...] query [query ...]

Output, per repetition then per query:
    <query> rep<i>: <sec>s construct=<s>s exec=<s>s jobs=J stages=S tasks=T
    <query>: min=<sec> med=<sec> runs=[...]

Timings here are warm (plan/codegen cached after rep 1), so they isolate
per-run computation; cross-check candidate wins against bench.py (cold,
alphabetical protocol) before claiming them. The streaming micro-batch
family is job-count-bound at bench scale (per-batch plan analysis, job
scheduling and offset/commit log dominate over data), which the job
counts make measurable.
"""

from __future__ import annotations

import argparse
import statistics
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument(
        "--plans",
        default=None,
        help="TAG:SUFFIX -> dump plan to plans/TAG/<query>_SUFFIX.txt",
    )
    ap.add_argument("--conf", action="append", default=[])
    args = ap.parse_args()

    from nyc_opendata_etl_spark.plans.inspect import formatted_plan
    from nyc_opendata_etl_spark.queries import queries
    from tools.harness import JobCounter, measure, session, warmup

    qs = queries()
    unknown = [n for n in args.names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 1
    plan_dir = suffix = None
    if args.plans:
        tag, suffix = args.plans.split(":", 1)
        plan_dir = Path(__file__).resolve().parent.parent / "plans" / tag
        plan_dir.mkdir(parents=True, exist_ok=True)

    extra = dict(c.split("=", 1) for c in args.conf)
    spark = session("opt-profile", extra_conf=extra or None)
    warmup(spark, args.sf)
    counter = JobCounter.for_spark(spark)

    for name in args.names:
        fn = qs[name]
        secs = []
        for i in range(args.reps):
            spark.sparkContext.setJobDescription(f"opt_profile:{name}#{i}")
            m = measure(spark, fn, args.sf)
            c = counter.read()
            secs.append(m["sec"])
            print(
                f"{name} rep{i}: {m['sec']}s construct={m['construct_s']}s "
                f"exec={m['exec_s']}s jobs={c['jobs']} stages={c['stages']} "
                f"tasks={c['tasks']} compiles={m['codegen_compiles']}",
                flush=True,
            )
        if plan_dir is not None:
            text = formatted_plan(fn(spark, args.sf))
            (plan_dir / f"{name}_{suffix}.txt").write_text(text)
            counter.read()  # the plan build's eager jobs belong to no rep
        print(
            f"{name}: min={min(secs)} med={round(statistics.median(secs), 3)} "
            f"runs={secs}",
            flush=True,
        )
    if counter.evicted:
        print(
            f"opt_profile: {counter.evicted} jobs left the status store "
            "before they were read (spark.ui.retainedJobs); counts above "
            "are low by that many",
            file=sys.stderr,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
