"""Self-tests for the benchmark's pure pieces.

    python3 -m pytest perfbench/test_perfbench.py -q

They need no Spark session: the status store is faked with objects that
answer the same calls the JVM one does.
"""

from __future__ import annotations

import os
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import datagen  # noqa: E402
from oracle import Oracle, same  # noqa: E402
from tracing import (  # noqa: E402
    JobCounter,
    SetupClock,
    Span,
    Tracer,
    covered,
    percentile,
    tail_percentile,
    tree_cpu_s,
)


# ── percentile with tail count ───────────────────────────────────────

def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(list(range(19))) is None  # 9 beyond the median
    q, v = tail_percentile(list(range(20)))
    assert (q, v) == (50, 9)  # ranks 11..20 lie beyond
    assert tail_percentile(list(range(40)))[0] == 75
    assert tail_percentile(list(range(100)))[0] == 90
    assert tail_percentile(list(range(200)))[0] == 95
    assert tail_percentile(list(range(1000)))[0] == 99


def test_percentile_is_nearest_rank():
    vals = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert percentile(vals, 50) == 3.0
    assert percentile(vals, 100) == 5.0
    assert percentile(vals, 1) == 1.0
    with pytest.raises(ValueError):
        percentile([], 50)


# ── span self time ───────────────────────────────────────────────────

def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(-5, 1), (9, 20)], 0, 10) == 2
    assert covered([], 0, 10) == 0


def test_self_time_subtracts_children_once():
    t = Tracer(True)
    t.spans = [
        Span("op", 0.0, 10.0),
        Span("child", 1.0, 4.0, parent=0),
        Span("child", 3.0, 6.0, parent=0),  # overlaps its sibling
        Span("grandchild", 1.5, 2.0, parent=1),
    ]
    assert t.self_time(0) == pytest.approx(5.0)
    assert t.self_time(1) == pytest.approx(2.5)
    assert t.total("child", self_only=True) == pytest.approx(5.5)
    assert t.total("child") == pytest.approx(6.0)


def test_disabled_tracer_times_but_keeps_nothing():
    t = Tracer(False)
    with t.span("x") as s:
        pass
    assert s.duration >= 0 and t.spans == []


# ── counter deltas across status-store eviction ──────────────────────

class _Opt:
    def __init__(self, v):
        self.v = v

    def isDefined(self):
        return self.v is not None

    def get(self):
        return self.v


class _Date:
    def __init__(self, ms):
        self.ms = ms

    def getTime(self):
        return self.ms


class _Seq:
    def __init__(self, items):
        self.items = items

    def size(self):
        return len(self.items)

    def apply(self, i):
        return self.items[i]


class _Job:
    def __init__(self, job_id, status="SUCCEEDED", stages=()):
        self.id, self.st, self.stages = job_id, status, list(stages)

    def jobId(self):
        return self.id

    def status(self):
        return self.st

    def numCompletedStages(self):
        return 1

    def numFailedStages(self):
        return 0

    def numCompletedTasks(self):
        return 4

    def numFailedTasks(self):
        return 0

    def submissionTime(self):
        return _Opt(_Date(1000 * self.id))

    def completionTime(self):
        return _Opt(_Date(1000 * self.id + 500))

    def stageIds(self):
        return _Seq(self.stages)


class _Stage:
    def status(self):
        return "COMPLETE"

    def executorRunTime(self):
        return 2000

    def __getattr__(self, name):  # every other counter reads 0
        return lambda: 0


class _Store:
    """Keeps at most ``retained`` jobs, evicting the oldest, like
    ``spark.ui.retainedJobs``; ``newest`` is the last id handed out."""

    def __init__(self, retained):
        self.retained, self.jobs, self.next_id = retained, {}, 0

    def run(self, n, status="SUCCEEDED", posted=True):
        for i in range(self.next_id, self.next_id + n):
            if posted:
                self.jobs[i] = _Job(i, status)
        self.next_id += n
        while len(self.jobs) > self.retained:
            del self.jobs[min(self.jobs)]

    def newest(self):
        return self.next_id - 1

    def job(self, job_id):
        if job_id not in self.jobs:
            raise KeyError(job_id)
        return self.jobs[job_id]

    def stageData(self, stage_id, *args):
        return _Seq([_Stage()])


def _counter(store):
    return JobCounter(store, lambda: None, store.newest)


def test_counter_reads_only_new_jobs_across_eviction():
    store = _Store(retained=10)
    store.run(25)  # before the counter exists
    c = _counter(store)
    store.run(3)
    assert c.read().jobs == 3
    assert c.read().jobs == 0
    store.run(7)  # the store is full: older jobs are evicted now
    assert c.read().jobs == 7
    store.run(15)  # more than the store keeps: 5 are gone before the read
    got = c.read()
    assert got.jobs == 10 and c.evicted == 5
    assert c.read().jobs == 0 and c.evicted == 5


def test_counter_reads_an_unposted_job_later():
    store = _Store(retained=100)
    c = _counter(store)
    store.run(2)
    store.run(1, posted=False)  # id handed out, start event not seen yet
    assert c.read().jobs == 2
    store.jobs[2] = _Job(2)
    assert c.read().jobs == 1 and c.evicted == 0


def test_counter_waits_for_running_jobs():
    store = _Store(retained=100)
    c = _counter(store)
    store.run(2)
    store.run(1, status="RUNNING")
    assert c.read().jobs == 2
    store.jobs[2].st = "SUCCEEDED"
    store.run(1)
    got = c.read()
    assert got.jobs == 2 and got.tasks == 8 and len(got.intervals) == 2


def test_counter_reads_a_reused_stage_once():
    store = _Store(retained=100)
    c = _counter(store)
    store.jobs[0] = _Job(0, stages=[0, 1])
    store.jobs[1] = _Job(1, stages=[1, 2])  # stage 1 ran in job 0; job 1 skips it
    store.next_id = 2
    assert c.read().task_s == pytest.approx(6.0)


# ── order-insensitive oracle comparison ──────────────────────────────

def test_same_ignores_row_and_column_order_only():
    a_cols, a = ["x", "y"], [(1, "a"), (2, None), (2, None)]
    b_cols, b = ["y", "x"], [(None, 2), ("a", 1), (None, 2)]
    assert same(a_cols, a, b_cols, b)
    assert not same(a_cols, a, b_cols, b[:2])  # multiplicity counts
    assert not same(["x"], [(0.1 + 0.2,)], ["x"], [(0.3,)])  # floats are exact
    assert same(["x"], [(float("nan"),)], ["x"], [(float("nan"),)])
    assert not same(["x"], [(1,)], ["z"], [(1,)])


def test_matches_files_compares_multisets_in_duckdb(tmp_path):
    import pyarrow as pa

    out = tmp_path / "fact"
    out.mkdir()
    pq.write_table(pa.table({"y": ["a", None], "x": [1, 2]}), str(out / "part-0.parquet"))
    pq.write_table(pa.table({"y": [None], "x": [2]}), str(out / "part-1.parquet"))
    oracle = Oracle(str(tmp_path), ())
    assert oracle.matches_files(str(out), "SELECT * FROM (VALUES (1, 'a'), (2, NULL), (2, NULL)) t(x, y)")
    assert not oracle.matches_files(str(out), "SELECT * FROM (VALUES (1, 'a'), (2, NULL)) t(x, y)")
    assert not oracle.matches_files(str(out), "SELECT * FROM (VALUES (1, 'a'), (2, NULL), (2, NULL)) t(x, z)")
    oracle.close()


# ── seeded inputs ────────────────────────────────────────────────────

def test_seeds_permute_rows_but_give_identical_oracle_results(tmp_path):
    from nyc_opendata_etl_spark.queries import oracle_sql

    sql = oracle_sql()
    names = ("pipeline_parking_fact", "pipeline_integrated_fact", "stream_dedup_ingest",
             "stream_scd2_upserts", "stream_stateful_dedup", "q5_local_supplier_volume")
    answers, ids = [], []
    for seed in (1, 2):
        d = str(tmp_path / f"s{seed}")
        datagen.write_inputs(d, seed, copies=2, extend_time=True)
        oracle = Oracle(d, datagen.TABLES)
        answers.append([oracle.answer(sql[n]) for n in names])
        oracle.close()
        ids.append(pq.read_table(os.path.join(d, "lineitem.parquet")).column("l_orderkey").to_pylist())
    assert ids[0] != ids[1] and sorted(ids[0]) == sorted(ids[1])
    for (cols_a, rows_a), (cols_b, rows_b) in zip(*answers):
        assert rows_a and same(cols_a, rows_a, cols_b, rows_b)


def test_inputs_are_the_permuted_source_replicated(tmp_path):
    for d in ("a", "b"):
        datagen.write_inputs(str(tmp_path / d), 7, copies=3, extend_time=True)
    src = {t: pq.read_table(datagen.SOURCE / f"{t}.parquet") for t in ("customer", "events")}
    base = pq.read_table(str(tmp_path / "a" / "base" / "events.parquet"))
    assert not base.equals(src["events"])
    assert sorted(base.column("event_id").to_pylist()) == sorted(src["events"].column("event_id").to_pylist())
    for t in datagen.TABLES:  # the same seed gives the same files
        assert pq.read_table(str(tmp_path / "a" / f"{t}.parquet")).equals(
            pq.read_table(str(tmp_path / "b" / f"{t}.parquet")))
    rows = datagen.row_counts(str(tmp_path / "a"), ("customer", "events"))
    assert rows == {"customer": src["customer"].num_rows, "events": 3 * src["events"].num_rows}
    ev = pq.read_table(str(tmp_path / "a" / "events.parquet"))
    assert len(set(ev.column("event_id").to_pylist())) == ev.num_rows
    span = [pc.min_max(t.column("ts")).as_py() for t in (src["events"], ev)]
    assert span[1]["max"] - span[1]["min"] > 2 * (span[0]["max"] - span[0]["min"])  # tiled in time


# ── CPU time and set-up phases ───────────────────────────────────────

def test_tree_cpu_counts_this_process_busy_time():
    before = tree_cpu_s()
    sum(i * i for i in range(2_000_000))
    assert tree_cpu_s() - before > 0


def test_setup_clock_counts_a_repeated_phase_by_its_median():
    clock = SetupClock()
    with clock.phase("session"):
        pass
    for _ in range(3):
        with clock.phase("prepare"):
            pass
    assert [len(clock.phases[p]["cpu_s"]) for p in ("session", "prepare")] == [1, 3]
    clock.phases["session"] = {"wall_s": [2.0], "cpu_s": [4.0]}
    clock.phases["prepare"] = {"wall_s": [1.0, 9.0, 2.0], "cpu_s": [3.0, 1.0, 2.0]}
    assert clock.total("wall") == 4.0
    assert clock.total("cpu") == 6.0
