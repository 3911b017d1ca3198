"""The measurement core every harness in this repo shares: session
set-up (``session``), the bootstrap warmup (``warmup``), the timed
build-then-execute of a registered query (``measure``), the
status-store job counter (``JobCounter``), the JVM's codegen
compilation count (``codegen_compiles``) and the CPU time of the
processes the JVM forked (``jvm_child_cpu_s``). One copy of each, so a
number from one harness means the same thing in another.
"""

from __future__ import annotations

import os
import sys
import time

from nyc_opendata_etl_spark.session import get_spark


def session(app: str, extra_conf: dict[str, str] | None = None):
    """The tuned engine session, logging only errors."""
    spark = get_spark(app, extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _noop(df) -> None:
    """Execute the full plan without collecting any rows."""
    df.write.format("noop").mode("overwrite").save()


def warmup(spark, sf_dir: str) -> None:
    """Absorb one-time JVM/codegen bootstrap so the first measured query
    measures the query, not the session. Three paths bootstrap lazily
    and would otherwise be billed to whichever query hits them first:
    the scheduler/codegen (range-sum), the vectorized parquet reader
    (scans) and the Python worker pool + Arrow serdes (mapInPandas).
    Never raises: a failed warmup only leaves that cost in the first
    query."""
    try:
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        _noop(spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).limit(10_000))
        _noop(spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).limit(1_000))
        _noop(spark.range(1_000).mapInPandas(lambda it: it, "id long"))
    except Exception as e:  # noqa: BLE001 — warmup must never fail a harness
        print(f"warmup incomplete: {e}", file=sys.stderr)


def codegen_compiles(spark) -> int:
    """Janino compilations this JVM has run so far: a generated class
    found in Spark's codegen cache is not counted."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def jvm_child_cpu_s(spark) -> float | None:
    """CPU seconds (user plus system) of the JVM's ended child processes,
    such as the ``readlink`` and ``chmod`` forks Hadoop's local file
    system makes without its native library: ``cutime + cstime`` from
    ``/proc/<pid>/stat``. None off Linux. Reads no Spark state, so it
    runs no job."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    fields = stat[stat.rfind(")") + 2:].split()  # fields after the command name
    return (int(fields[13]) + int(fields[14])) / os.sysconf("SC_CLK_TCK")


def measure(spark, fn, sf_dir: str) -> dict[str, float]:
    """Build ``fn(spark, sf_dir)``, then run it through the noop sink.

    ``construct_s`` is the time until ``fn`` returns its DataFrame:
    Python plan building plus any eager jobs ``fn`` runs (probes, cache
    fills, checkpoints). ``exec_s`` is the noop write. ``sec`` is both.
    ``codegen_compiles`` counts the classes both steps compiled, and
    ``child_cpu_s`` the CPU seconds of the processes the JVM forked and
    reaped meanwhile (None off Linux). Exceptions from either step
    propagate."""
    c0, k0 = codegen_compiles(spark), jvm_child_cpu_s(spark)
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    _noop(df)
    t2 = time.perf_counter()
    return {
        "construct_s": round(t1 - t0, 3),
        "exec_s": round(t2 - t1, 3),
        "sec": round(t2 - t0, 3),
        "codegen_compiles": codegen_compiles(spark) - c0,
        "child_cpu_s": None if k0 is None else round(jvm_child_cpu_s(spark) - k0, 3),
    }


class JobCounter:
    """Counts the Spark jobs, stages and tasks that ended since the last
    ``read``, from the app status store, which sees jobs from every
    thread (Structured Streaming micro-batch threads included).

    Job ids are handed out in order, so a read looks up, one keyed
    lookup each, the ids from the first unread one up to the newest id
    handed out: its cost grows with the number of new jobs, not with
    the size of the store. The store keeps only the last
    ``spark.ui.retainedJobs`` jobs; ids it evicted are skipped and
    counted in ``evicted``, so no count can go negative. A missing id
    with no held id above it is a job whose start is not posted yet,
    and a RUNNING job ends the read; both are read next time.

    Stages and tasks count completed plus failed, so stages skipped
    because an earlier job's shuffle output was reused are not counted.
    """

    def __init__(self, store, newest_id, settle):
        self._store = store
        self._newest_id = newest_id
        self._settle = settle
        self._next = newest_id() + 1  # start after the jobs that already ran
        self.evicted = 0

    @classmethod
    def for_spark(cls, spark) -> "JobCounter":
        sc = spark.sparkContext._jsc.sc()
        scheduler = sc.dagScheduler()  # nextJobId: the id the next job gets
        return cls(
            sc.statusStore(),
            lambda: scheduler.nextJobId() - 1,
            # job-end events reach the store asynchronously
            lambda: sc.listenerBus().waitUntilEmpty(10_000),
        )

    def read(self) -> dict[str, int]:
        self._settle()
        counts = {"jobs": 0, "stages": 0, "tasks": 0}
        missing = 0  # ids passed over since the last held one
        for job_id in range(self._next, self._newest_id() + 1):
            try:
                job = self._store.job(job_id)
            except Exception:  # noqa: BLE001 — py4j wraps NoSuchElementException
                missing += 1
                continue
            if str(job.status()) == "RUNNING":
                break
            self.evicted += missing  # a later id is held: the missing ones were evicted
            missing = 0
            counts["jobs"] += 1
            counts["stages"] += job.numCompletedStages() + job.numFailedStages()
            counts["tasks"] += job.numCompletedTasks() + job.numFailedTasks()
            self._next = job_id + 1
        return counts
