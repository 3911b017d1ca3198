"""Structured Streaming over the ``events`` table.

The reference's unit of work is a windowed batch append (SURVEY §1.4):
``[start, end)`` on a timestamp, with a monthly backfill loop
(``load_history.py:4-17``). Structured Streaming is the Spark-native
generalization: the same dataflow declared once runs incrementally
(micro-batch), as a backfill (``Trigger.AvailableNow`` ≙ the reference's
history loop), or continuously — with watermarks making late-data
semantics explicit where the reference had none.

Scale notes: event-time windowed aggregation shuffles on (window, key)
with partial aggregation per micro-batch; state store size is bounded by
the watermark horizon. At 100 TB/day the same topology holds — state is
per-window-per-key, not per-event.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from nyc_opendata_etl_spark.sources.batch_log import current_dir, write_batch
from nyc_opendata_etl_spark.streaming.drain import drain

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source event stream (parquet directory). In production this
    would be Kafka/Kinesis; the transformations below are source-agnostic."""
    reader = spark.readStream.schema(EVENT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling event-time window: count + sum(value) per (window,
    event_type), tolerating ``watermark`` of event-time lateness."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 6)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_rates(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding window counts per event_type (rate monitoring)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows per user: a session closes after ``gap`` of
    inactivity. Uses the native session_window state operator."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("first_event"),
            F.max("ts").alias("last_event"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "first_event",
            "last_event",
        )
    )


def watermarked_dedup(
    events: DataFrame, key_cols: list[str], watermark: str = "2 hours"
) -> DataFrame:
    """Native bounded-state streaming dedup:
    ``dropDuplicatesWithinWatermark`` keeps the first row per key and
    expires each key's state once the watermark passes it — the
    engine-managed TTL twin of :func:`stateful_first_seen` (which keeps
    keys forever, the unbounded-state trade). At scale this is the one
    to reach for on high-cardinality keys: state is O(keys per
    watermark window), not O(all keys ever)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def stateful_first_seen(events: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Emit each key the first time it is ever seen across the whole
    stream (keyed dedup with unbounded state), append mode.

    Projecting to the key before the native streaming dedup makes the
    state-store row the key itself, and the emitted record — the key
    with its own type, NULL included once — does not depend on how the
    input was micro-batched. No watermark, so keys are kept forever:
    state is O(all distinct keys ever), sharded by the shuffle on the
    key (``run_available_now(state_partitions=…)``). Use
    :func:`watermarked_dedup` where keys may expire.
    """
    return events.select(key_col).dropDuplicates([key_col])


def interval_join_clicks_views(
    clicks: DataFrame,
    views: DataFrame,
    lookback: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: each click pairs with the same user's
    views in the ``lookback`` window strictly before it.

    The canonical attribution join. Both sides carry watermarks and the
    join predicate bounds event time on both sides, so Spark can size
    the join state: a buffered view is droppable once the click-side
    watermark passes ``view_ts + lookback`` — state is O(rate ·
    (lookback + watermark)) per user shard, not unbounded. Works
    identically on batch DataFrames (same function, batch mode), which
    is what the differential oracle checks.
    """
    c = clicks.withWatermark("ts", watermark).select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    v = views.withWatermark("ts", watermark).select(
        F.col("user_id").alias("__v_user__"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    return c.join(
        v,
        (c["user_id"] == v["__v_user__"])
        & (v["view_ts"] < c["click_ts"])
        & (v["view_ts"] >= c["click_ts"] - F.expr(f"INTERVAL {lookback}")),
    ).select("user_id", "click_id", "view_id", "click_ts", "view_ts")


def stream_to_partitioned_sink(
    events: DataFrame,
    sink_path: str,
    ts_col: str = "ts",
    query_name: str = "sink",
    checkpoint_location: str | None = None,
) -> None:
    """Stream → (month, b)-partitioned warehouse parquet via
    :func:`~nyc_opendata_etl_spark.streaming.drain.drain`: each
    micro-batch is a batch log write of ``sources/batch_log.py`` (that
    module states the replay discipline) with ``month`` above ``b``, so
    a re-delivered batch rewrites exactly its own (month, b) partitions
    and a LATER batch touching the same month lands in other ``b``
    partitions (overwriting by month alone would drop every earlier
    batch of the month).

    Batches write into, and readers scan, the committed version of the
    versioned root ``sink_path`` (``batch_log.current_dir``; month
    pruning still applies, ``b`` is an extra partition level); periodic
    :func:`~nyc_opendata_etl_spark.operators.backfill.compact_partitions`
    folds the per-batch files into the next version.
    """

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_batch(
            batch_df.withColumn("month", F.date_format(ts_col, "yyyy-MM")),
            current_dir(sink_path),
            batch_id,
            overwrite="dynamic",
            partition_by=("month",),
        )

    drain(events, sink_batch, query_name, checkpoint_location)


_SHUFFLE_CONF_LOCK = threading.Lock()


def run_available_now(
    stream_df: DataFrame,
    query_name: str = "backfill",
    output_mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Drain the stream as a bounded backfill (Trigger.AvailableNow) into
    an in-memory sink and return the sink as a batch DataFrame — the
    Spark-native equivalent of the reference's month-by-month
    ``load_history`` subprocess loop, minus the subprocesses.

    ``output_mode``: "complete" for aggregations whose final state should
    equal the batch answer; "append" for row streams / watermark-evicted
    output (then windows newer than the final watermark are withheld,
    by design).

    ``state_partitions``: number of state-store shards for this stream.
    Unlike batch shuffles (AQE re-sizes those at runtime), a streaming
    query's state partition count is frozen into the checkpoint at
    creation and every micro-batch pays a per-shard commit (a
    stream-stream join maintains 4 state stores per shard) — so sizing
    it to the stream's key cardinality/throughput is a deliberate
    deployment decision, not a tunable afterthought. None = inherit the
    session's ``spark.sql.shuffle.partitions``.

    The partition override is necessarily a SESSION conf (a streaming
    query's state shard count has no per-query knob), so the
    set → drain → restore window is serialized under a module lock:
    without it, two concurrent callers corrupt each other's saved
    value and one caller's count leaks into the restored session
    default. Unrelated batch work running in the same session DURING
    the window still sees the override — callers that can't tolerate
    that should drain on a dedicated session.
    """
    spark = stream_df.sparkSession

    def _drain() -> None:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    if state_partitions is None:
        _drain()
    else:
        with _SHUFFLE_CONF_LOCK:
            old = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(state_partitions)
            )
            try:
                _drain()
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", old)
    return spark.table(query_name)
