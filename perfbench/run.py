"""Benchmark command: one workload, one seed, one result line.

    python3 perfbench/run.py --workload star_load --seed 1 --seconds 10 --trace 0

Workloads: ``star_load`` and ``stream_ingest``.  Runs from any working
directory; it finds the engine next to this directory, keeps every file
it writes under ``.perfbench_work/`` in the repository root, and removes
them when it ends.

A run starts one Spark session on ``local[<cores>]`` and sets up: it
generates the seeded inputs (three times, into fresh directories; the
median counts), then stages what the calls start from, warms the lazy
bootstraps and makes the workload's untimed warm-up passes.  Passes over
the workload's fixed list of calls then repeat until the time spent
inside the calls adds up to ``--seconds``.  The first pass also checks
every output against its DuckDB oracle, outside the timed calls.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones: ``setup_s``, the
CPU seconds of set-up, ``cpu_s``, the CPU seconds of one pass's timed
calls (median over passes), both taken over the whole process tree, and
``heap_retained_mb``.  CPU time is what they bound because it leaves out
the time the hypervisor steals: on a shared 4-core host, steal between
0 and 30% moved the wall time of the same pass up to twofold and its
CPU time by under a third of that.  With ``--trace 1`` every pass is traced
and the metrics are the per-layer ones; ``trace.wall_s`` is the traced
pass time to set against the untraced run's ``wall_s`` (their difference
is the tracing overhead) and ``trace.overhead_s`` the part of it spent
reading Spark's counters.  The line before it holds the run's detail:
pass and sample counts, per-phase set-up times, per-call times, host
steal and iowait, and the metrics under the names the workload reports
them by, the wall-clock ``wall_s``, ``setup_wall_s`` and ``rows_per_s``
among them.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
SETUP_REPEATS = 3
DRIVER_MEMORY = "3g"

PER_LAYER = {
    "session.start_s": "s",
    "sources.staging.stage_s": "s",
    "queries.construct_s": "s",
    "queries.construct_py_s": "s",
    "queries.construct_jobs": "count",
    "queries.construct_job_s": "s",
    "spark.driver_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.gc_s": "s",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_failures": "count",
    "spark.busy_ratio": "ratio",
    "spark.cached_bytes_after": "bytes",
    "operators.warehouse.build_star_s": "s",
    "operators.warehouse.build_star_jobs": "count",
    "sources.sinks.write_s": "s",
    "sources.sinks.write_jobs": "count",
    "sources.sinks.files": "count",
    "sources.sinks.bytes_per_row": "bytes/row",
    "streaming.drain_s": "s",
    "streaming.batches": "count",
    "streaming.add_batch_s": "s",
    "streaming.planning_s": "s",
    "streaming.offsets_s": "s",
    "streaming.commit_s": "s",
    "streaming.jobs_per_batch": "count",
    "streaming.state_bytes": "bytes",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}


def _environment(work: Path) -> None:
    """Keep every file Spark and the engine write under ``work``, and let
    Python workers import the engine from any working directory."""
    for sub in ("tmp", "stage", "warehouse", "spark-local", "runs"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join([str(REPO), str(HERE)] + ([path] if path else []))
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_STAGE_ROOT"] = str(work / "stage")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    sys.path[:0] = [str(REPO), str(HERE)]


def _work_dir(workload: str) -> Path:
    """A directory of this process's own under ``.perfbench_work``, after
    removing those left by runs that no longer exist."""
    root = REPO / ".perfbench_work"
    if root.is_dir():
        for d in root.iterdir():
            pid = d.name.rsplit("-", 1)[-1]
            if pid.isdigit() and not Path(f"/proc/{pid}").exists():
                shutil.rmtree(d, ignore_errors=True)
    return root / f"{workload}-{os.getpid()}"


def _start_spark(work: Path):
    from nyc_opendata_etl_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf={
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _heap_retained_bytes(spark) -> int:
    """JVM heap still in use after a full collection: what the timed
    passes left live, cached blocks and streaming state included."""
    import gc

    gc.collect()  # drop Python-side handles on JVM objects first
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    for _ in range(3):  # Spark's cleaner frees broadcasts and shuffles after a collection
        bean.gc()
        time.sleep(0.5)
    return bean.getHeapMemoryUsage().getUsed()


def _pass_loop(wl, ctx, seconds: float) -> tuple[list[float], list[float]]:
    """Passes until their timed calls add up to ``seconds``; returns the
    timed seconds and the CPU seconds of each.  The first pass also
    verifies every output."""
    walls: list[float] = []
    cpus: list[float] = []
    while sum(walls) < seconds:
        cpu0 = ctx.op_cpu_s
        walls.append(wl.run_pass(ctx, verify=not walls))
        cpus.append(ctx.op_cpu_s - cpu0)
    return walls, cpus


def _per_layer(ctx, walls: list[float], session_s: float, stage_s: float) -> dict[str, float]:
    n = len(walls)
    lay = {k: v / n for k, v in ctx.layer.items()}  # per pass
    for layer in ("queries.construct", "operators.warehouse.build_star",
                  "sources.sinks.write", "streaming.drain"):
        lay[f"{layer}_s"] = ctx.tracer.total(layer, self_only=True) / n
    tot = ctx.spark_total
    cores = os.cpu_count() or 1
    wall = sum(walls) / n
    construct_s = lay.get("queries.construct_s", 0.0)
    construct_job_s = lay.get("queries.construct_job_s", 0.0)
    batches = lay.get("streaming.batches", 0.0)
    rows = ctx.layer.get("sinks.output_rows", 0)
    out = {
        "session.start_s": session_s,
        "sources.staging.stage_s": stage_s,
        "queries.construct_s": construct_s,
        "queries.construct_py_s": construct_s - construct_job_s,
        "queries.construct_jobs": lay.get("queries.construct_jobs", 0.0),
        "queries.construct_job_s": construct_job_s,
        "spark.driver_s": lay.get("spark.driver_s", 0.0),
        "spark.jobs": tot.jobs / n,
        "spark.stages": tot.stages / n,
        "spark.tasks": tot.tasks / n,
        "spark.task_s": tot.task_s / n,
        "spark.gc_s": tot.gc_s / n,
        "spark.input_bytes": tot.input_bytes / n,
        "spark.shuffle_read_bytes": tot.shuffle_read_bytes / n,
        "spark.shuffle_write_bytes": tot.shuffle_write_bytes / n,
        "spark.spill_bytes": tot.spill_bytes / n,
        "spark.task_failures": tot.task_failures / n,
        "spark.busy_ratio": tot.task_s / n / (wall * cores),
        "spark.cached_bytes_after": sum(ctx.cached) / len(ctx.cached) if ctx.cached else 0.0,
        "operators.warehouse.build_star_s": lay.get("operators.warehouse.build_star_s", 0.0),
        "operators.warehouse.build_star_jobs": lay.get("operators.warehouse.build_star_jobs", 0.0),
        "sources.sinks.write_s": lay.get("sources.sinks.write_s", 0.0),
        "sources.sinks.write_jobs": lay.get("sources.sinks.write_jobs", 0.0),
        "sources.sinks.files": lay.get("sources.sinks.files", 0.0),
        "sources.sinks.bytes_per_row": ctx.layer.get("sinks.output_bytes", 0) / rows if rows else 0.0,
        "streaming.drain_s": lay.get("streaming.drain_s", 0.0),
        "streaming.batches": batches,
        "streaming.add_batch_s": lay.get("streaming.add_batch_s", 0.0),
        "streaming.planning_s": lay.get("streaming.planning_s", 0.0),
        "streaming.offsets_s": lay.get("streaming.offsets_s", 0.0),
        "streaming.commit_s": lay.get("streaming.commit_s", 0.0),
        "streaming.jobs_per_batch": lay.get("streaming.drain_jobs", 0.0) / batches if batches else 0.0,
        "streaming.state_bytes": ctx.layer.get("streaming.state_bytes", 0),
        "trace.wall_s": wall,
        "trace.overhead_s": lay.get("trace.overhead_s", 0.0),
    }
    return out


def _workload_metrics(name: str, ctx, e2e: dict, walls: list[float], clock, peak_rss: int) -> dict:
    """The end-to-end metrics under the names this workload reports them
    by, wall-clock ones included.  Each percentile carries its sample
    count and how many samples lie beyond it; ``op_s.tail`` is the
    highest percentile with ten beyond."""
    from tracing import median, percentile, tail_percentile

    def tail(q):
        n = len(ctx.op_s)
        beyond = sum(1 for v in ctx.op_s if v > percentile(ctx.op_s, q))
        return {"value": percentile(ctx.op_s, q), "unit": "s", "n": n, "beyond": beyond}

    rule = tail_percentile(ctx.op_s)

    out = {
        **e2e,
        "setup_wall_s": {"value": clock.total("wall"), "unit": "s"},
        "wall_s": {"value": median(walls), "unit": "s"},
        "fail_ratio": {"value": ctx.failed / ctx.attempted, "unit": "ratio"},
        "peak_rss_mb": {"value": peak_rss / 2**20, "unit": "MB"},
        "op_s.tail": rule and {"percentile": rule[0], "value": rule[1], "unit": "s"},
    }
    rows_per_s = {"value": ctx.rows_per_pass / median(walls), "unit": "rows/s"}
    if name == "star_load":
        out["rows_per_s"] = rows_per_s
    else:
        out.update({"rows_per_s": rows_per_s, "batch_s.p50": tail(50), "batch_s.p90": tail(90)})
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (REPO / "nyc_opendata_etl_spark" / "__init__.py").is_file():
        print(f"perfbench: engine package not found under {REPO}", file=sys.stderr)
        return 2
    work = _work_dir(args.workload)
    _environment(work)

    import tracing as tr
    from oracle import Oracle
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    traced = bool(args.trace)
    spark = None
    try:
        with tr.PeakRss() as rss:
            clock = tr.SetupClock()
            with clock.phase("session"):
                spark = _start_spark(work)
            batches: list[dict] = []
            spark.streams.addListener(tr.progress_listener(batches))
            ctx = Ctx(spark=spark, tracer=tr.Tracer(traced), counter=None, batches=batches,
                      work=str(work), seed=args.seed)
            for r in range(SETUP_REPEATS):
                if ctx.data:
                    shutil.rmtree(ctx.data)
                ctx.data = str(work / f"data{r}")
                with clock.phase("prepare"):
                    wl.prepare(ctx)
            with clock.phase("warmup"):
                wl.warmup(ctx)
                for _ in range(wl.warm_passes):
                    wl.run_pass(ctx, verify=False)
            for kept in (ctx.op_s, ctx.calls, ctx.batches):
                kept.clear()  # the timed passes' samples only
            stage_s = ctx.tracer.total("sources.staging.stage")
            ctx.tracer.spans.clear()  # the passes' spans only from here on

            ctx.oracle = Oracle(ctx.data, _tables_in(ctx.data))
            ctx.counter = tr.JobCounter.for_spark(spark) if traced else None
            host0 = tr.cpu_ticks()
            walls, cpus = _pass_loop(wl, ctx, args.seconds)
            noise = tr.noise_pcts(host0, tr.cpu_ticks())
            ctx.oracle.close()
            retained = 0 if traced else _heap_retained_bytes(spark)  # traced runs do not report it
        e2e = {
            "setup_s": {"value": clock.total("cpu"), "unit": "s"},
            "cpu_s": {"value": tr.median(cpus), "unit": "s"},
            "heap_retained_mb": {"value": retained / 2**20, "unit": "MB"},
        }
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "passes": len(walls),
            "op_samples": len(ctx.op_s),
            "setup": clock.phases,
            "host": noise,
            "calls_s": ctx.calls,
            "metrics": _workload_metrics(args.workload, ctx, e2e, walls, clock, rss.peak),
            "errors": ctx.errors,
        }
        if traced:
            metrics = {k: {"value": v, "unit": PER_LAYER[k]}
                       for k, v in _per_layer(ctx, walls, clock.phases["session"]["wall_s"][0],
                                              stage_s).items()}
        else:
            metrics = e2e
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass
    print(json.dumps(detail), flush=True)
    print(json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}), flush=True)
    return 0


def _tables_in(data_dir: str) -> tuple[str, ...]:
    return tuple(f[: -len(".parquet")] for f in sorted(os.listdir(data_dir))
                 if f.endswith(".parquet"))


if __name__ == "__main__":
    sys.exit(main())
