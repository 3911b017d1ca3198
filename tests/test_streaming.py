"""Structured Streaming semantics: backfill equivalence and watermark
eviction (append vs complete)."""

from __future__ import annotations

import os
import tempfile
import uuid

from nyc_opendata_etl_spark.sources.batch_log import current_dir
from nyc_opendata_etl_spark.sources.tables import load_table
from nyc_opendata_etl_spark.streaming import events as se

SF_DIR = "/root/testdata/sf0.001"


def _stage(spark) -> str:
    stage = os.path.join(tempfile.gettempdir(), f"stream_test_{uuid.uuid4().hex[:8]}")
    load_table(spark, SF_DIR, "events").write.mode("overwrite").parquet(stage)
    return stage


def test_stream_backfill_matches_batch(spark):
    stage = _stage(spark)
    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in se.tumbling_counts(spark.read.parquet(stage)).collect()
    }
    stream = se.read_event_stream(spark, stage, max_files_per_trigger=2)
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in se.run_available_now(
            se.tumbling_counts(stream), f"t_{uuid.uuid4().hex[:8]}", "complete"
        ).collect()
    }
    assert got == batch


def test_watermark_withholds_open_windows_in_append_mode(spark):
    """In append mode, windows newer than the final watermark (max event
    time - 2h) must NOT be emitted; complete mode emits everything."""
    stage = _stage(spark)
    stream = se.read_event_stream(spark, stage)
    complete = se.run_available_now(
        se.tumbling_counts(stream), f"c_{uuid.uuid4().hex[:8]}", "complete"
    ).collect()
    stream2 = se.read_event_stream(spark, stage)
    append = se.run_available_now(
        se.tumbling_counts(stream2), f"a_{uuid.uuid4().hex[:8]}", "append"
    ).collect()
    assert 0 < len(append) < len(complete)
    ckeys = {(r["window_start"], r["event_type"]) for r in complete}
    assert {(r["window_start"], r["event_type"]) for r in append} <= ckeys
    # the withheld windows are exactly the newest ones
    max_appended = max(r["window_end"] for r in append)
    max_complete = max(r["window_end"] for r in complete)
    assert max_appended < max_complete


def test_streaming_session_windows(spark):
    stage = _stage(spark)
    stream = se.read_event_stream(spark, stage)
    rows = se.run_available_now(
        se.session_windows(stream), f"s_{uuid.uuid4().hex[:8]}", "complete"
    ).collect()
    assert rows
    for r in rows[:50]:
        assert r["session_start"] == r["first_event"]
        assert r["session_end"] > r["last_event"]


def test_stateful_first_seen_dedup(spark, tmp_path):
    from pyspark.sql import functions as F
    from nyc_opendata_etl_spark.streaming.events import (
        read_event_stream,
        run_available_now,
        stateful_first_seen,
    )

    rows = [
        (1, "2024-01-01 00:00:00", 10, "click", 1.0, "{}"),
        (2, "2024-01-01 00:01:00", 10, "click", 1.0, "{}"),
        (3, "2024-01-01 00:02:00", 20, "view", 2.0, "{}"),
        (4, "2024-01-01 00:03:00", 10, "view", 3.0, "{}"),
        (5, "2024-01-01 00:04:00", 30, "click", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    path = str(tmp_path / "events")
    # multiple files -> multiple micro-batches with maxFilesPerTrigger=1
    df.repartition(3).write.parquet(path)

    stream = read_event_stream(spark, path, max_files_per_trigger=1)
    out = run_available_now(
        stateful_first_seen(stream, "user_id"), "t_dedup", output_mode="append"
    )
    assert sorted(r.user_id for r in out.collect()) == [10, 20, 30]


def test_stateful_first_seen_null_key_once_on_native_dedup(spark, tmp_path):
    """A NULL key seen in two micro-batches is emitted once, and the
    operator is Spark's streaming Deduplicate, not a Python state
    worker."""
    from pyspark.sql import functions as F

    schema = (
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string"
    )
    path = str(tmp_path / "events")
    batches = [
        [(1, "2024-01-01 00:00:00", None, "click", 1.0, "{}"),
         (2, "2024-01-01 00:01:00", 10, "click", 1.0, "{}")],
        [(3, "2024-01-01 00:02:00", None, "view", 2.0, "{}"),
         (4, "2024-01-01 00:03:00", 20, "view", 3.0, "{}")],
    ]
    for rows in batches:  # one file per write -> one micro-batch each
        spark.createDataFrame(rows, schema).withColumn(
            "ts", F.col("ts").cast("timestamp")
        ).coalesce(1).write.mode("append").parquet(path)

    stream = se.read_event_stream(spark, path, max_files_per_trigger=1)
    deduped = se.stateful_first_seen(stream, "user_id")
    plan = deduped._jdf.queryExecution().analyzed().toString()
    assert "Deduplicate" in plan
    assert "FlatMapGroupsInPandasWithState" not in plan

    out = se.run_available_now(
        deduped, f"t_null_{uuid.uuid4().hex[:8]}", output_mode="append"
    )
    got = [r.user_id for r in out.collect()]
    assert sorted(got, key=lambda k: (k is not None, k)) == [None, 10, 20]


def test_stateful_first_seen_resumes_from_checkpoint(spark, tmp_path):
    """Drain half the event files into a parquet sink, add files that
    repeat old keys and bring new ones, drain again from the same
    checkpoint: across both drains each distinct key lands once."""
    events = load_table(spark, SF_DIR, "events")
    first = events.where("user_id % 3 != 0")
    second = events.where("user_id % 3 != 1")  # repeats % 3 == 2
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain_once() -> list:
        (
            se.stateful_first_seen(se.read_event_stream(spark, src), "user_id")
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start(out)
            .awaitTermination()
        )
        return [r.user_id for r in spark.read.parquet(out).collect()]

    first.repartition(2).write.parquet(src)
    after_first = drain_once()
    second.repartition(2).write.mode("append").parquet(src)
    after_both = drain_once()

    old, new = (
        {r.user_id for r in df.select("user_id").distinct().collect()}
        for df in (first, second)
    )
    assert new - old and new & old  # the second drain repeats and adds keys
    assert sorted(after_first) == sorted(old)
    assert len(after_both) == len(set(after_both))
    assert set(after_both) == old | new
    assert set(after_both) - set(after_first) == new - old


def test_checkpoints_write_through_the_filesystem_api(spark, tmp_path):
    """The session's checkpoint manager conf is internal to Spark: if
    Spark stops honouring it, checkpoints fall back to the FileContext
    manager, whose renames fork a process per file on local disk."""
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path / "ckpt")),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getName() == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )


def test_stateful_first_seen_replays_a_lost_commit(spark, tmp_path):
    """A drain that dies after its last batch's sink write but before
    that batch's commit-log entry re-runs the batch on restart: the
    replay loads the state below the batch, so the batch-keyed sink
    gets the same new keys again, and the state it commits serves the
    next drain. Each key lands once, and a later drain over new files
    adds only the new keys."""
    import time

    from nyc_opendata_etl_spark.streaming.drain import drain

    events = load_table(spark, SF_DIR, "events")
    src, out = str(tmp_path / "src"), tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    t0 = time.time() - 100

    def add_file(where: str, age: float) -> None:
        """One file per micro-batch, in the order of ``age``."""
        before = set(os.listdir(src)) if os.path.exists(src) else set()
        events.where(where).coalesce(1).write.mode("append").parquet(src)
        for name in set(os.listdir(src)) - before:
            os.utime(os.path.join(src, name), (age, age))

    def sink(batch_df, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(str(out / f"b={batch_id}"))

    def drain_once() -> list:
        stream = se.stateful_first_seen(
            se.read_event_stream(spark, src, max_files_per_trigger=1), "user_id"
        )
        drain(stream, sink, f"lost_commit_{uuid.uuid4().hex[:8]}", str(ckpt))
        return [r.user_id for r in spark.read.parquet(str(out)).collect()]

    def batch_out(b: int) -> tuple[set, list]:
        path = out / f"b={b}"
        files = {p.name for p in path.glob("part-*")}
        return files, sorted(r.user_id for r in spark.read.parquet(str(path)).collect())

    add_file("user_id % 3 = 1", t0)
    add_file("user_id % 3 != 0", t0 + 1)  # repeats % 3 = 1, adds % 3 = 2
    after_first = drain_once()
    last = max(int(n) for n in os.listdir(ckpt / "commits") if n.isdigit())
    assert last == 1
    files_before, keys_before = batch_out(last)
    assert keys_before and all(k % 3 == 2 for k in keys_before)
    for lost in (ckpt / "commits" / str(last), ckpt / "commits" / f".{last}.crc"):
        os.remove(lost)

    after_replay = drain_once()
    files_after, keys_after = batch_out(last)
    assert (ckpt / "commits" / str(last)).exists()
    assert files_after.isdisjoint(files_before)  # the batch ran again
    assert keys_after == keys_before
    assert sorted(after_replay) == sorted(after_first)

    add_file("user_id % 3 != 1", t0 + 2)  # repeats % 3 = 2, adds % 3 = 0
    after_both = drain_once()
    keys = {r.user_id for r in events.select("user_id").distinct().collect()}
    assert sorted(after_first) == sorted(k for k in keys if k % 3 != 0)
    assert sorted(after_both) == sorted(keys)
    assert sorted(set(after_both) - set(after_first)) == sorted(k for k in keys if k % 3 == 0)
    # the replayed deltas' temp files are removed once the drain stops
    assert os.listdir(ckpt / "state")
    assert [p.name for p in (ckpt / "state").rglob("*.tmp*")] == []


def test_stream_to_partitioned_sink_is_idempotent(spark, tmp_path):
    from pyspark.sql import functions as F

    from nyc_opendata_etl_spark.streaming.events import (
        read_event_stream,
        stream_to_partitioned_sink,
    )

    rows = [
        (1, "2024-01-10 00:00:00", 10, "click", 1.0, "{}"),
        (2, "2024-02-10 00:00:00", 20, "view", 2.0, "{}"),
        (3, "2024-02-20 00:00:00", 30, "click", 3.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    df.write.parquet(src)

    stream_to_partitioned_sink(
        read_event_stream(spark, src), sink, query_name="s1",
        checkpoint_location=str(tmp_path / "ckpt1"),
    )
    assert spark.read.parquet(current_dir(sink)).count() == 3
    # replaying the same bounded stream (fresh query, fresh checkpoint,
    # same source, batch ids restart) must REPLACE its own partitions,
    # not append duplicates
    stream_to_partitioned_sink(
        read_event_stream(spark, src), sink, query_name="s2",
        checkpoint_location=str(tmp_path / "ckpt2"),
    )
    out = spark.read.parquet(current_dir(sink))
    assert out.count() == 3
    assert {r.month for r in out.select("month").distinct().collect()} == {
        "2024-01", "2024-02",
    }


def test_stream_sink_keeps_all_batches_of_a_month(spark, tmp_path):
    """Regression: a month spanning several micro-batches must keep
    EVERY batch's rows (overwriting by month alone dropped all but the
    last batch)."""
    from pyspark.sql import functions as F

    from nyc_opendata_etl_spark.streaming.events import (
        read_event_stream,
        stream_to_partitioned_sink,
    )

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")

    def mk(eid, day):
        return spark.createDataFrame(
            [(eid, f"2024-02-{day:02d} 00:00:00", eid, "click", 1.0, "{}")],
            "event_id long, ts string, user_id long, event_type string, value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    # two separate files, same month -> two micro-batches with
    # maxFilesPerTrigger=1
    mk(1, 10).write.mode("append").parquet(src)
    mk(2, 20).write.mode("append").parquet(src)
    stream_to_partitioned_sink(
        read_event_stream(spark, src, max_files_per_trigger=1), sink,
        query_name="s3", checkpoint_location=str(tmp_path / "ckpt"),
    )
    out = spark.read.parquet(current_dir(sink))
    assert sorted(r.event_id for r in out.collect()) == [1, 2]


def test_compacted_stream_sink_keeps_streaming(spark, tmp_path):
    """Stream two batches into a month sink, compact it, stream one
    batch into a compacted month and one into a new month: the sink
    reads back as the union of every batch (compaction used to drop
    the ``b`` partition level, and every later read raised
    CONFLICTING_PARTITION_COLUMN_NAMES)."""
    from pyspark.sql import functions as F

    from nyc_opendata_etl_spark.operators.backfill import compact_partitions
    from nyc_opendata_etl_spark.streaming.events import (
        read_event_stream,
        stream_to_partitioned_sink,
    )

    src, sink = str(tmp_path / "src"), str(tmp_path / "sink")

    def add(eid, ts):
        spark.createDataFrame(
            [(eid, ts, eid, "click", float(eid), "{}")],
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode(
            "append"
        ).parquet(src)

    def stream(run):
        stream_to_partitioned_sink(
            read_event_stream(spark, src, max_files_per_trigger=1), sink,
            query_name=f"cs_{run}", checkpoint_location=str(tmp_path / "ckpt"),
        )

    add(1, "2024-01-10 00:00:00")
    add(2, "2024-02-10 00:00:00")
    stream(0)
    assert compact_partitions(spark, sink) == 2
    add(3, "2024-02-20 00:00:00")
    add(4, "2024-03-01 00:00:00")
    stream(1)
    out = spark.read.parquet(current_dir(sink)).collect()
    assert sorted(r.event_id for r in out) == [1, 2, 3, 4]
    assert {r.month for r in out} == {"2024-01", "2024-02", "2024-03"}


def test_checkpointed_available_now_is_incremental(spark, tmp_path):
    """Trigger.AvailableNow + checkpointLocation = incremental batch: a
    second run processes ONLY files that arrived since the first run's
    checkpoint (the Spark-native replacement for the reference's manual
    month-window bookkeeping), and a replay adds nothing."""
    from pyspark.sql import functions as F

    from nyc_opendata_etl_spark.streaming.events import read_event_stream

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def mk(rows):
        return spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string, value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    def drain():
        q = (
            read_event_stream(spark, src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    mk([(1, "2024-01-01 00:00:00", 1, "click", 1.0, "{}")]).write.mode(
        "append"
    ).parquet(src)
    drain()
    assert spark.read.parquet(sink).count() == 1

    # new file arrives; old file unchanged -> only the new row lands
    mk([(2, "2024-01-02 00:00:00", 2, "view", 2.0, "{}")]).write.mode(
        "append"
    ).parquet(src)
    drain()
    assert spark.read.parquet(sink).count() == 2

    # no new data -> replay is a no-op (no duplicates)
    drain()
    assert spark.read.parquet(sink).count() == 2


def test_stream_static_dim_enrichment_matches_batch(spark):
    """Stream-to-static enrichment: a streaming fact joined to a batch
    dimension (the FK-stamping shape, broadcast per micro-batch) must
    produce exactly the batch join's aggregate — and the static side
    needs no watermark or state."""
    from pyspark.sql import functions as F

    stage = _stage(spark)
    dim = (
        load_table(spark, SF_DIR, "events")
        .select("user_id")
        .distinct()
        .withColumn("cohort", (F.col("user_id") % 3).cast("int"))
    )
    batch = {
        (r["cohort"], r["event_type"]): r["n"]
        for r in spark.read.parquet(stage)
        .join(F.broadcast(dim), "user_id")
        .groupBy("cohort", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    stream = se.read_event_stream(spark, stage, max_files_per_trigger=2)
    enriched = (
        stream.join(F.broadcast(dim), "user_id")
        .groupBy("cohort", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got = {
        (r["cohort"], r["event_type"]): r["n"]
        for r in se.run_available_now(
            enriched, f"d_{uuid.uuid4().hex[:8]}", "complete"
        ).collect()
    }
    assert got == batch


def test_interval_join_multibatch_equals_single_batch(spark):
    """Multi-batch AvailableNow replay over the TIME-ORDERED staged
    copy is output-identical to the single-batch drain for the
    stream-stream interval join: ordered files mean zero cross-batch
    lateness, inner-join matches emit eagerly, and the advancing
    watermark only evicts state that can no longer match. (At 100x the
    eviction is a 7.6x wall win — BASELINE.md round-9 streaming note;
    this pins the equivalence the sizing threshold in
    queries/event_windows.py relies on.)"""
    from pyspark.sql import functions as F

    from nyc_opendata_etl_spark.queries.event_windows import _stage_events

    stage = _stage_events(spark, SF_DIR)
    parts = sorted(p for p in os.listdir(stage) if p.startswith("part-"))
    assert os.path.exists(os.path.join(stage, "_ORDERED"))
    # ascending mtimes in path order = replay order = event-time order
    mtimes = [os.path.getmtime(os.path.join(stage, p)) for p in parts]
    assert mtimes == sorted(mtimes)

    def run(k):
        clicks = se.read_event_stream(spark, stage, max_files_per_trigger=k).filter(
            F.col("event_type") == "click"
        )
        views = se.read_event_stream(spark, stage, max_files_per_trigger=k).filter(
            F.col("event_type") == "view"
        )
        out = se.run_available_now(
            se.interval_join_clicks_views(clicks, views),
            f"ijmb_{uuid.uuid4().hex[:8]}",
            output_mode="append",
            state_partitions=4,
        )
        return {tuple(r) for r in out.collect()}

    assert run(4) == run(None)


def test_stateful_first_seen_string_key(spark, tmp_path):
    """Round-11 review pin: the output schema derives from the ACTUAL
    key type — a hardcoded 'long' crashed the Arrow conversion for any
    non-bigint grouping key (e.g. event_type)."""
    from pyspark.sql import functions as F

    from nyc_opendata_etl_spark.streaming.events import (
        read_event_stream,
        run_available_now,
        stateful_first_seen,
    )

    rows = [
        (1, "2024-01-01 00:00:00", 10, "click", 1.0, "{}"),
        (2, "2024-01-01 00:01:00", 11, "click", 1.0, "{}"),
        (3, "2024-01-01 00:02:00", 12, "view", 2.0, "{}"),
        (4, "2024-01-01 00:03:00", 13, "signup", 3.0, "{}"),
        (5, "2024-01-01 00:04:00", 14, "view", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    path = str(tmp_path / "events")
    df.repartition(2).write.parquet(path)

    stream = read_event_stream(spark, path, max_files_per_trigger=1)
    out = run_available_now(
        stateful_first_seen(stream, "event_type"),
        "t_dedup_str",
        output_mode="append",
    )
    assert sorted(r.event_type for r in out.collect()) == [
        "click",
        "signup",
        "view",
    ]


def test_stream_sink_accepts_checkpoint_location(spark, tmp_path):
    """The durable-checkpoint parameter (round-11 review: the
    idempotency contract needs one to pin batch boundaries across
    restarts) drives an actual offset log on disk."""
    import os

    from pyspark.sql import functions as F

    from nyc_opendata_etl_spark.streaming.events import (
        read_event_stream,
        stream_to_partitioned_sink,
    )

    rows = [(1, "2024-02-01 00:00:00", 1, "click", 1.0, "{}")]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    src = str(tmp_path / "src")
    df.write.parquet(src)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    stream_to_partitioned_sink(
        read_event_stream(spark, src), sink, query_name="s_ck",
        checkpoint_location=ckpt,
    )
    assert os.path.isdir(os.path.join(ckpt, "offsets"))
    assert spark.read.parquet(current_dir(sink)).count() == 1
    # a replay over the SAME checkpoint re-delivers nothing new and
    # leaves the sink unchanged
    stream_to_partitioned_sink(
        read_event_stream(spark, src), sink, query_name="s_ck2",
        checkpoint_location=ckpt,
    )
    assert spark.read.parquet(current_dir(sink)).count() == 1


def test_exactly_once_wrappers_require_checkpoint_or_explicit_optout():
    """Every exactly-once streaming wrapper's contract rides on the
    offset log pinning batch composition, so a caller omitting
    checkpoint_location must get a raise (not silent at-most-once
    semantics). The shared drain's guard fires before the stream is
    touched, so a None stream reaches it."""
    import pytest

    from nyc_opendata_etl_spark.streaming.ann_ingest import stream_ivfpq_ingest
    from nyc_opendata_etl_spark.streaming.cluster_ingest import (
        stream_cluster_ingest,
    )
    from nyc_opendata_etl_spark.streaming.dim_sink import stream_scd2_upserts
    from nyc_opendata_etl_spark.streaming.index_ingest import stream_index_ingest
    from nyc_opendata_etl_spark.streaming.ingest import stream_dedup_ingest
    from nyc_opendata_etl_spark.streaming.events import (
        stream_to_partitioned_sink,
    )

    cases = [
        lambda: stream_index_ingest(None, "/tmp/x"),
        lambda: stream_ivfpq_ingest(None, "/tmp/x"),
        lambda: stream_dedup_ingest(None, "/tmp/x", "/tmp/y"),
        lambda: stream_scd2_upserts(None, "/tmp/x", ["k"], ["v"]),
        lambda: stream_cluster_ingest(None, "/tmp/x"),
        lambda: stream_to_partitioned_sink(None, "/tmp/x"),
    ]
    for case in cases:
        with pytest.raises(ValueError, match="checkpoint_location"):
            case()
