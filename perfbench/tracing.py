"""Measurement pieces of the benchmark: spans, Spark counters, streaming
progress, percentiles, host noise and memory.

Spans are recorded only here, around calls into the engine's public
functions; nothing inside the engine is instrumented.  Counters come
from Spark's own status store and streaming progress events.
"""

from __future__ import annotations

import math
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


# ── percentiles ──────────────────────────────────────────────────────

def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty list."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail_percentile(values: list[float], min_beyond: int = 10,
                    candidates: tuple[int, ...] = (99, 95, 90, 75, 50)) -> tuple[int, float] | None:
    """The highest percentile in ``candidates`` with at least
    ``min_beyond`` samples strictly above its rank, and its value; None
    when even the median lacks that many."""
    n = len(values)
    for q in candidates:
        rank = max(1, math.ceil(q / 100.0 * n))
        if n - rank >= min_beyond:
            return q, percentile(values, q)
    return None


def median(values: list[float]) -> float:
    ordered = sorted(values)
    if not ordered:
        raise ValueError("median of no samples")
    mid = len(ordered) // 2
    return ordered[mid] if len(ordered) % 2 else (ordered[mid - 1] + ordered[mid]) / 2


# ── intervals and spans ──────────────────────────────────────────────

def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the part of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans with parent links.  With ``enabled`` false a span
    still times its block (the benchmark needs the durations) but keeps
    no record and no parent stack."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        s = Span(name, time.perf_counter())
        if self.enabled:
            s.parent = self._stack[-1] if self._stack else None
            self.spans.append(s)
            self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if self.enabled:
                self._stack.pop()

    def self_time(self, index: int) -> float:
        """A span's duration minus the part of it its children cover."""
        s = self.spans[index]
        kids = [(c.start, c.end) for c in self.spans if c.parent == index]
        return s.duration - covered(kids, s.start, s.end)

    def total(self, name: str, *, self_only: bool = False) -> float:
        return sum(self.self_time(i) if self_only else s.duration
                   for i, s in enumerate(self.spans) if s.name == name)


# ── Spark status-store counters ──────────────────────────────────────

@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_failures: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    output_rows: int = 0
    intervals: list[tuple[float, float]] = field(default_factory=list)

    def add(self, other: "JobStats") -> None:
        for k, v in vars(other).items():
            if k == "intervals":
                self.intervals.extend(v)
            else:
                setattr(self, k, getattr(self, k) + v)


class JobCounter:
    """Reads the jobs that ran since the previous reading, by job id.

    Job ids are handed out in order.  A reading looks up, one keyed
    lookup each, the ids from the first one it has not read up to the
    newest id handed out (``newest_id``, a counter read, not a listing):
    its cost grows with the number of new jobs, not with the size of the
    status store.  Ids the store no longer holds because it evicted them
    (past ``spark.ui.retainedJobs``) are skipped and counted in
    ``evicted``, so no delta can go negative; a missing id with no held
    id above it belongs to a job whose start has not been posted yet and
    is read next time.  Job times are converted to this process's
    ``time.perf_counter`` clock so they can be intersected with spans.
    """

    def __init__(self, store, drain_events, newest_id, stage_args=(), rdd_storage=list):
        self._store = store
        self._drain_events = drain_events
        self._newest_id = newest_id
        self._stage_args = stage_args
        self._rdd_storage = rdd_storage
        self._stages_read: set[int] = set()
        self.evicted = 0
        self._offset = time.time() - time.perf_counter()
        self._next = newest_id() + 1  # start after the jobs that already ran

    @classmethod
    def for_spark(cls, spark) -> "JobCounter":
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        no_status = sc._jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        scheduler = jsc.dagScheduler()  # nextJobId: the id the next job will get
        return cls(jsc.statusStore(), lambda: jsc.listenerBus().waitUntilEmpty(10_000),
                   lambda: scheduler.nextJobId() - 1,
                   (False, no_status, False, no_quantiles), jsc.getRDDStorageInfo)

    def _job(self, job_id: int):
        try:
            return self._store.job(job_id)
        except Exception:  # evicted: py4j wraps NoSuchElementException
            return None

    def _stage(self, stage_id: int) -> list:
        try:
            attempts = self._store.stageData(stage_id, *self._stage_args)
        except Exception:  # evicted stage
            return []
        return [attempts.apply(i) for i in range(attempts.size())]

    def read(self) -> JobStats:
        """Stats of the jobs that ended since the last reading; a job
        still running ends the reading and is read next time."""
        self._drain_events()
        out = JobStats()
        newest = self._newest_id()
        missing = 0  # ids passed over since the last held one
        for job_id in range(self._next, newest + 1):
            job = self._job(job_id)
            if job is None:
                missing += 1
                continue
            if str(job.status()) == "RUNNING":
                break
            self.evicted += missing  # a later id is held: the missing ones were evicted
            missing = 0
            self._add_job(job, out)
            self._next = job_id + 1
        return out

    def _add_job(self, job, out: JobStats) -> None:
        out.jobs += 1
        out.stages += job.numCompletedStages() + job.numFailedStages()
        out.tasks += job.numCompletedTasks() + job.numFailedTasks()
        out.task_failures += job.numFailedTasks()
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined() and done.isDefined():
            out.intervals.append((sub.get().getTime() / 1000.0 - self._offset,
                                  done.get().getTime() / 1000.0 - self._offset))
        ids = job.stageIds()
        for i in range(ids.size()):
            stage_id = ids.apply(i)
            if stage_id in self._stages_read:  # a later job that reuses its output
                continue
            self._stages_read.add(stage_id)
            for st in self._stage(stage_id):
                if str(st.status()) not in ("COMPLETE", "FAILED"):
                    continue
                out.task_s += st.executorRunTime() / 1000.0
                out.gc_s += st.jvmGcTime() / 1000.0
                out.input_bytes += st.inputBytes()
                out.shuffle_read_bytes += st.shuffleReadBytes()
                out.shuffle_write_bytes += st.shuffleWriteBytes()
                out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out.output_bytes += st.outputBytes()
                out.output_rows += st.outputRecords()

    def cached_bytes(self) -> int:
        """Memory plus disk size of the RDD blocks still cached."""
        return sum(r.memSize() + r.diskSize() for r in self._rdd_storage())


# ── streaming progress ───────────────────────────────────────────────

def progress_listener(batches: list[dict]):
    """A StreamingQueryListener appending one dict per micro-batch to
    ``batches`` (durations in seconds, state bytes, input rows)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = dict(p.durationMs or {})
            batches.append({
                "name": p.name,
                "trigger_s": d.get("triggerExecution", 0) / 1000.0,
                "add_batch_s": d.get("addBatch", 0) / 1000.0,
                "planning_s": d.get("queryPlanning", 0) / 1000.0,
                "offsets_s": (d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1000.0,
                "commit_s": (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0,
                "rows": p.numInputRows,
                "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


# ── host ─────────────────────────────────────────────────────────────

def cpu_ticks() -> tuple[int, int, int] | None:
    """(steal, iowait, total) ticks from /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
    except OSError:
        return None
    vals = [int(v) for v in parts[1:9]]  # user..steal; guest is in user
    return vals[7], vals[4], sum(vals)


def noise_pcts(before, after) -> dict[str, float]:
    if before is None or after is None or after[2] <= before[2]:
        return {"steal_pct": float("nan"), "iowait_pct": float("nan")}
    total = after[2] - before[2]
    return {"steal_pct": 100.0 * (after[0] - before[0]) / total,
            "iowait_pct": 100.0 * (after[1] - before[1]) / total}


def _tree_stats(root_pid: int) -> dict[int, list[str]]:
    """The ``/proc/<pid>/stat`` fields after the command name, for
    ``root_pid`` and all its descendants, by pid."""
    parent: dict[int, int] = {}
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        parent[int(name)] = int(fields[1])
        stats[int(name)] = fields
    keep, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        for child, par in parent.items():
            if par == p and child not in keep:
                keep.add(child)
                frontier.append(child)
    return {p: stats[p] for p in keep if p in stats}


def _tree_rss_bytes(root_pid: int) -> int:
    """Resident memory of ``root_pid`` and all its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    return sum(int(f[21]) * page for f in _tree_stats(root_pid).values())


def tree_cpu_s(root_pid: int | None = None) -> float:
    """CPU seconds (user and system) this process tree has used so far,
    ended children that were waited for included.  Time the hypervisor
    stole from the tree is not in it."""
    tick = os.sysconf("SC_CLK_TCK")
    return sum(sum(int(v) for v in f[11:15])
               for f in _tree_stats(root_pid or os.getpid()).values()) / tick


class SetupClock:
    """Wall and process-tree CPU seconds of each set-up phase.  A phase
    run several times counts once in the totals, by its median."""

    def __init__(self):
        self.phases: dict[str, dict[str, list[float]]] = {}

    @contextmanager
    def phase(self, name: str):
        wall0, cpu0 = time.perf_counter(), tree_cpu_s()
        yield
        times = self.phases.setdefault(name, {"wall_s": [], "cpu_s": []})
        times["wall_s"].append(time.perf_counter() - wall0)
        times["cpu_s"].append(tree_cpu_s() - cpu0)

    def total(self, kind: str) -> float:
        """Set-up seconds of ``kind`` ``"wall"`` or ``"cpu"``."""
        return sum(median(t[f"{kind}_s"]) for t in self.phases.values())


class PeakRss:
    """Samples the resident memory of this process tree (the Spark JVM
    and the Python workers are its descendants) and keeps the peak."""

    def __init__(self, interval_s: float = 1.0):
        self.peak = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self._interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
