"""The shared measurement core (tools/harness.py): the job counter's
eviction rule without Spark, ``measure`` on a real query, and the
JVM's child-process CPU."""

from __future__ import annotations

from nyc_opendata_etl_spark.queries import queries
from tools.harness import JobCounter, jvm_child_cpu_s, measure

SF = "/root/testdata/sf0.001"


class _Job:
    def __init__(self, status="SUCCEEDED"):
        self._status = status

    def status(self):
        return self._status

    def numCompletedStages(self):
        return 2

    def numFailedStages(self):
        return 0

    def numCompletedTasks(self):
        return 5

    def numFailedTasks(self):
        return 1


class _Store:
    """Keeps at most ``retained`` jobs, evicting the oldest, like the
    status store under ``spark.ui.retainedJobs``."""

    def __init__(self, retained):
        self.retained = retained
        self.jobs: dict[int, _Job] = {}
        self.newest = -1

    def run(self, n, status="SUCCEEDED"):
        for _ in range(n):
            self.newest += 1
            self.jobs[self.newest] = _Job(status)
            while len(self.jobs) > self.retained:
                del self.jobs[min(self.jobs)]

    def job(self, job_id):
        return self.jobs[job_id]  # KeyError stands in for py4j's


def test_job_counter_skips_evicted_ids():
    store = _Store(retained=20)
    store.run(25)  # warm-up jobs, before the counter exists
    counter = JobCounter(store, lambda: store.newest, lambda: None)

    store.run(2)
    assert counter.read() == {"jobs": 2, "stages": 4, "tasks": 12}
    assert counter.evicted == 0

    # 30 jobs between reads: the 10 oldest are evicted before the read
    store.run(30)
    got = counter.read()
    assert got["jobs"] == 20
    assert counter.evicted == 10

    store.run(1)
    assert counter.read()["jobs"] == 1
    assert counter.read() == {"jobs": 0, "stages": 0, "tasks": 0}


def test_job_counter_reads_a_running_job_next_time():
    store = _Store(retained=100)
    counter = JobCounter(store, lambda: store.newest, lambda: None)
    store.run(1)
    store.run(1, status="RUNNING")
    assert counter.read()["jobs"] == 1
    store.jobs[store.newest] = _Job()  # the job ends
    assert counter.read()["jobs"] == 1
    assert counter.evicted == 0


def test_measure_splits_construction_from_execution(spark):
    counter = JobCounter.for_spark(spark)
    m = measure(spark, queries()["q1_pricing_summary"], SF)
    assert set(m) == {"construct_s", "exec_s", "sec", "codegen_compiles", "child_cpu_s"}
    assert abs(m["construct_s"] + m["exec_s"] - m["sec"]) <= 0.002
    assert m["construct_s"] >= 0 and m["exec_s"] > 0
    assert m["codegen_compiles"] >= 0
    assert m["child_cpu_s"] >= 0  # a float on Linux
    # the same query again finds its generated classes cached
    assert measure(spark, queries()["q1_pricing_summary"], SF)["codegen_compiles"] == 0
    assert counter.read()["jobs"] >= 1
    assert counter.evicted == 0


def test_jvm_child_cpu_counts_a_reaped_fork_and_runs_no_job(spark):
    gateway = spark.sparkContext._gateway
    argv = gateway.new_array(gateway.jvm.java.lang.String, 3)
    argv[0], argv[1] = "sh", "-c"
    argv[2] = "i=0; while [ $i -lt 300000 ]; do i=$((i+1)); done"
    counter = JobCounter.for_spark(spark)
    before = jvm_child_cpu_s(spark)
    assert gateway.jvm.java.lang.Runtime.getRuntime().exec(argv).waitFor() == 0
    assert jvm_child_cpu_s(spark) - before > 0.05
    assert counter.read()["jobs"] == 0
