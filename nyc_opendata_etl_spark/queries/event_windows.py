"""Event-time window aggregations over ``events`` — tumbling, sliding,
and session windows, each with a DuckDB oracle; plus a genuinely
*streaming-executed* tumbling query (Structured Streaming,
Trigger.AvailableNow) checked against the same batch oracle.

The batch/stream pairs share the same transformation functions
(streaming/events.py) — one definition, two execution modes, which is
the point of the Spark mapping of the reference's windowed-batch design
(SURVEY §1.4).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_opendata_etl_spark.queries import register
from nyc_opendata_etl_spark.sources.tables import load_table
from nyc_opendata_etl_spark.streaming import events as streaming_events

def _stage_events(spark: SparkSession, sf_dir: str) -> str:
    """Stage a micro-batchable, TIME-ORDERED copy of the events table
    (the raw file has TIMESTAMP(NANOS), unreadable by the streaming
    parquet source; staging ≙ the bronze layer a real pipeline would
    stream from). Cached by mtime: re-staged only when the source is
    newer.

    Time order matters: FileStreamSource replays files by modification
    time, so range-partitioning on ``ts`` + an ascending mtime touch in
    path order (part numbering == range order for repartitionByRange)
    makes a multi-batch replay see events in event-time order — zero
    cross-batch lateness, so ``maxFilesPerTrigger`` replays are
    output-identical to the single-batch drain while the advancing
    watermark evicts join/agg state between micro-batches. Without the
    ordering, the watermark could race ahead of later files and
    (correctly, per streaming semantics) drop their rows. The
    ``_ORDERED`` marker versions the layout so pre-ordering stage dirs
    rebuild once."""
    import hashlib

    from nyc_opendata_etl_spark.sources.staging import stage_root

    key = hashlib.md5(sf_dir.rstrip("/").encode()).hexdigest()[:12]
    stage = os.path.join(
        stage_root(),
        "spark_graft_stream_stage",
        f"{os.path.basename(sf_dir.rstrip('/'))}_{key}",
    )
    src = os.path.join(sf_dir, "events.parquet")
    marker = os.path.join(stage, "_SUCCESS")
    ordered_marker = os.path.join(stage, "_ORDERED")
    if not (
        os.path.exists(marker)
        and os.path.exists(ordered_marker)
        and os.path.getmtime(marker) > os.path.getmtime(src)
    ):
        (
            load_table(spark, sf_dir, "events")
            .repartitionByRange(32, "ts")
            .sortWithinPartitions("ts")
            .write.mode("overwrite")
            .parquet(stage)
        )
        import time as _time

        base = _time.time()
        # 1ms spacing: FileStreamSource orders by ms-precision mtime, so
        # this still fixes replay order while keeping every stamp within
        # ~50ms of wall-clock (1s spacing put parts up to 32s in the
        # future, and the old marker at +40s masked any source
        # regenerated inside that window as already-staged).
        parts = sorted(f for f in os.listdir(stage) if f.startswith("part-"))
        spacing = 0.001
        while True:
            # Stamp BACKWARDS from `base` (now): part i gets
            # base - (n_parts - i)*spacing, so every stamp is in the
            # PAST at any spacing. Stamping forwards would put parts
            # (and the marker) up to n_parts*spacing in the future —
            # at the 1 s escalation that is ~30 s of staleness mask, the
            # exact source-regenerated-inside-the-window bug the 1 ms
            # spacing originally fixed.
            for i, p in enumerate(parts):
                t = base - (len(parts) - i) * spacing
                os.utime(os.path.join(stage, p), (t, t))
            # Read back and verify the stamps are STRICTLY increasing:
            # the ms spacing assumes the staging filesystem preserves
            # sub-second mtime precision — on a coarse-granularity fs
            # (1s mtimes) adjacent stamps collapse to equal values and
            # replay order goes nondeterministic again, the exact
            # failure the spacing exists to prevent. Escalate the
            # spacing 1000× (to 1s, which any POSIX fs preserves)
            # rather than silently reordering.
            stamps = [os.path.getmtime(os.path.join(stage, p)) for p in parts]
            if all(a < b for a, b in zip(stamps, stamps[1:])):
                break
            if spacing >= 1.0:
                raise OSError(
                    f"staging fs collapsed part mtimes even at {spacing}s "
                    f"spacing; FileStreamSource replay order would be "
                    f"nondeterministic under {stage}"
                )
            spacing *= 1000
        with open(ordered_marker, "w"):
            pass
        # staleness invariant: marker mtime > every part mtime; `base`
        # itself is strictly greater than every backdated part stamp
        # and is not in the future.
        os.utime(marker, (base, base))
    return stage


def _staged_trigger_files(stage: str) -> int | None:
    """Shard an AvailableNow replay into micro-batches of 4 files only
    when the staged input exceeds 16 MiB (ORDERED-layout bytes — the
    time-sorted copy compresses ~3× better than unsorted). Below the
    threshold state trivially fits in memory and each extra micro-batch
    costs a fixed ~1-2 s of state-store commits, so a single batch is
    strictly cheaper; above it, sharded replay lets the advancing
    watermark bound state between batches (the round-9 interval-join
    lesson: 352 → 59.6 s at 100×). Round 10 applies the same gate to
    the tumbling-backfill and stateful-dedup replays, whose sf0.1 bench
    cost was pure multi-batch overhead (8× per-batch state-store
    commits across every shard at a scale where one batch suffices)."""
    staged_bytes = sum(
        os.path.getsize(os.path.join(stage, p))
        for p in os.listdir(stage)
        if p.startswith("part-")
    )
    return 4 if staged_bytes >= 16 * 1024 * 1024 else None


_TUMBLING_ORACLE = """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
           event_type,
           count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
"""


@register("window_tumbling", oracle=_TUMBLING_ORACLE)
def q_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows (batch execution of the
    streaming transformation)."""
    events = load_table(spark, sf_dir, "events")
    return streaming_events.tumbling_counts(events)


@register(
    "window_sliding",
    oracle="""
    SELECT time_bucket(INTERVAL '15 minutes', ts) - k * INTERVAL '15 minutes'
               AS window_start,
           time_bucket(INTERVAL '15 minutes', ts) - k * INTERVAL '15 minutes'
               + INTERVAL '1 hour' AS window_end,
           event_type,
           count(*) AS n_events
    FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)
    GROUP BY 1, 2, 3
    """,
)
def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour windows every 15 minutes (each event lands in 4
    windows; the oracle enumerates them explicitly)."""
    events = load_table(spark, sf_dir, "events")
    return streaming_events.sliding_rates(events)


@register(
    "window_session",
    oracle="""
    WITH g AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL '30 minutes'
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ),
    s AS (
        SELECT user_id, ts,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS session_id
        FROM g
    )
    SELECT min(ts) AS session_start,
           max(ts) + INTERVAL '30 minutes' AS session_end,
           user_id,
           count(*) AS n_events,
           min(ts) AS first_event,
           max(ts) AS last_event
    FROM s
    GROUP BY user_id, session_id
    """,
)
def q_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window (30-min gap). Oracle: gaps-and-islands SQL —
    for point events, session_window(start, end) ≡ (min ts, max ts + gap)."""
    events = load_table(spark, sf_dir, "events")
    return streaming_events.session_windows(events)


@register("stream_tumbling_backfill", oracle=_TUMBLING_ORACLE)
def q_stream_tumbling_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME tumbling aggregation executed as a real Structured
    Streaming query (file source → Trigger.AvailableNow → memory sink,
    complete mode), checked against the same batch oracle — proving
    batch/stream semantic equivalence of the shared transformation.
    Sharded into micro-batches only above the staged-size threshold
    (see _staged_trigger_files); output is batching-invariant in
    complete mode, pinned multi-batch in tests/test_streaming.py.
    """
    stage = _stage_events(spark, sf_dir)

    stream = streaming_events.read_event_stream(
        spark, stage, max_files_per_trigger=_staged_trigger_files(stage)
    )
    agg = streaming_events.tumbling_counts(stream)
    name = f"backfill_{uuid.uuid4().hex[:8]}"
    return streaming_events.run_available_now(
        agg, name, output_mode="complete", state_partitions=8
    )


@register(
    "stream_stateful_dedup",
    oracle="SELECT DISTINCT user_id FROM events",
)
def q_stream_stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded-state streaming dedup (native ``dropDuplicates`` on the
    projected key, no watermark): first-seen keyed dedup across
    micro-batches, state one key row per user. The emitted set — each
    distinct user exactly once — is batching-invariant, so a plain
    batch DISTINCT is a full-value oracle for a genuinely streaming
    stateful execution. Sharded into micro-batches only above the
    staged-size threshold (see _staged_trigger_files) — first-seen
    emission is batching-invariant, pinned multi-batch in
    tests/test_streaming.py."""
    stage = _stage_events(spark, sf_dir)

    stream = streaming_events.read_event_stream(
        spark, stage, max_files_per_trigger=_staged_trigger_files(stage)
    )
    deduped = streaming_events.stateful_first_seen(stream, "user_id")
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    return streaming_events.run_available_now(
        deduped, name, output_mode="append", state_partitions=8
    )


@register(
    "stream_watermark_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def q_stream_watermark_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming dedup with watermark-TTL state
    (dropDuplicatesWithinWatermark): first row per (user_id,
    event_type), state expiring behind the watermark. Projected to the
    key columns the emitted set is batching-invariant within the
    watermark, so batch DISTINCT is the exact oracle for a replay whose
    data span fits the watermark (single-batch here, as in
    stream_interval_join)."""
    stage = _stage_events(spark, sf_dir)

    stream = streaming_events.read_event_stream(spark, stage)
    deduped = streaming_events.watermarked_dedup(
        stream, ["user_id", "event_type"]
    ).select("user_id", "event_type")
    name = f"wmd_{uuid.uuid4().hex[:8]}"
    return streaming_events.run_available_now(
        deduped, name, output_mode="append", state_partitions=8
    )


@register(
    "stream_interval_join",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id,
           c.ts AS click_ts, v.ts AS view_ts
    FROM events c JOIN events v
      ON c.user_id = v.user_id
     AND c.event_type = 'click' AND v.event_type = 'view'
     AND v.ts < c.ts AND v.ts >= c.ts - INTERVAL 30 MINUTE
    """,
)
def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (click←view attribution within 30
    minutes) executed by the streaming engine with watermarked,
    time-bounded join state, drained via Trigger.AvailableNow in
    MULTIPLE micro-batches and checked against the equivalent batch SQL
    join. The staged bronze copy is time-ordered (_stage_events:
    range-partitioned on ts, ascending file mtimes), so cross-batch
    lateness is zero and ``maxFilesPerTrigger=4`` (8 micro-batches over
    32 files) is output-identical to a single-batch drain — inner-join
    matches emit eagerly and no in-watermark row is dropped. The payoff
    is state eviction: a single-batch drain never advances the
    watermark mid-batch, so ALL rows buffer in join state (at the 100×
    replica that was a 352 s wall); between micro-batches the watermark
    advances and views older than ``click_wm - lookback`` are evicted,
    keeping state O(rate × (lookback + watermark delay)) — 46 s at
    100×, and the per-batch shape a continuous production stream
    actually runs. Trigger sizing is a deployment decision: each extra
    micro-batch costs a fixed ~2 s of state-store commits (8 shards ×
    4 stores), so below 16 MiB of staged input a single batch is
    cheaper than the commits and state trivially fits; above, sharded
    replay keeps join state bounded. (Time-sorted parquet compresses
    ~3× better than the unsorted copy — the 100× replica stages at
    44 MB, not 148 — so the threshold is calibrated to ORDERED bytes.)
    Output is identical in both regimes (differential gate run
    multi-batch at sf0.001/0.01/0.1: 12/12 PASS; unit pin in
    tests/test_streaming.py). Measured: BASELINE.md round-9 streaming
    note."""
    stage = _stage_events(spark, sf_dir)
    k = _staged_trigger_files(stage)

    clicks = streaming_events.read_event_stream(
        spark, stage, max_files_per_trigger=k
    ).filter(F.col("event_type") == "click")
    views = streaming_events.read_event_stream(
        spark, stage, max_files_per_trigger=k
    ).filter(F.col("event_type") == "view")
    joined = streaming_events.interval_join_clicks_views(clicks, views)
    name = f"ij_{uuid.uuid4().hex[:8]}"
    # 8 state shards: a stream-stream join commits 4 state stores per
    # shard per batch, so the shard count is sized to this replay's key
    # cardinality rather than inherited from the batch shuffle default.
    return streaming_events.run_available_now(
        joined, name, output_mode="append", state_partitions=8
    )


@register(
    "events_funnel",
    oracle="""
    WITH first_click AS (
        SELECT user_id, min(ts) AS t_click
        FROM events WHERE event_type = 'click' GROUP BY user_id
    ),
    converted AS (
        SELECT f.user_id, min(e.ts) AS t_purchase
        FROM first_click f
        JOIN events e
          ON e.user_id = f.user_id
         AND e.event_type = 'purchase'
         AND e.ts > f.t_click
         AND e.ts <= f.t_click + INTERVAL '24 hours'
        GROUP BY f.user_id
    )
    SELECT count(*) AS n_clicked,
           (SELECT count(*) FROM converted) AS n_converted
    FROM first_click
    """,
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step funnel: users whose first 'click' is followed by a
    'purchase' within 24h. Plan shape: two filtered aggregates + one
    range-condition join on user_id — the range predicate rides the
    equi-join shuffle, no cross product."""
    events = load_table(spark, sf_dir, "events")
    first_click = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    converted = (
        first_click.join(
            purchases,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("p_ts") > F.col("t_click"))
            & (F.col("p_ts") <= F.col("t_click") + F.expr("INTERVAL 24 HOURS")),
        )
        .groupBy("user_id")
        .agg(F.min("p_ts").alias("t_purchase"))
    )
    return first_click.agg(F.count("*").alias("n_clicked")).crossJoin(
        converted.agg(F.count("*").alias("n_converted"))
    )


@register(
    "events_cohort_retention",
    oracle="""
    WITH cohort AS (
        SELECT user_id, time_bucket(INTERVAL '1 day', min(ts)) AS cohort_day
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id, c.cohort_day,
               time_bucket(INTERVAL '1 day', e.ts) AS active_day
        FROM events e JOIN cohort c ON e.user_id = c.user_id
    )
    SELECT cohort_day,
           CAST(date_diff('day', cohort_day, active_day) AS INT) AS day_offset,
           count(*) AS n_users
    FROM activity
    GROUP BY 1, 2
    """,
)
def q_events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen day,
    counted on each later active day. Two hash aggregates + one join on
    user_id. The cohort side scales with user count, so it is NOT
    broadcast-hinted — AQE still picks broadcast when it fits, and falls
    back to a shuffle join when the user population doesn't."""
    events = load_table(spark, sf_dir, "events")
    cohort = events.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    activity = (
        events.join(cohort, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.date_trunc("day", F.col("ts")).alias("active_day"),
        )
        .distinct()
    )
    return activity.groupBy(
        "cohort_day",
        F.datediff("active_day", "cohort_day").cast("int").alias("day_offset"),
    ).agg(F.count("*").alias("n_users"))


@register(
    "events_ewma",
    oracle="""
    WITH per_user AS (
        SELECT user_id, list(value ORDER BY ts, value) AS vs
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           list_reduce(vs, (acc, x) -> 0.3 * x + 0.7 * acc) AS ewma
    FROM per_user
    """,
)
def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user final EWMA of event values — a true recurrence, so it
    runs as a key-partitioned vectorized Pandas kernel; the oracle folds the
    same recurrence with list_reduce over the identically-ordered
    series."""
    from nyc_opendata_etl_spark.operators.grouped import ewma_last_per_key

    events = load_table(spark, sf_dir, "events")
    return ewma_last_per_key(events, "user_id", "ts", "value", alpha=0.3)


@register(
    "quality_validation",
    oracle="""
    WITH agg AS (
        SELECT count(*) AS n_rows,
               sum(CASE WHEN COALESCE(l_quantity > 0, false) THEN 0 ELSE 1 END)
                   AS f_qty_positive,
               sum(CASE WHEN COALESCE(l_discount BETWEEN 0 AND 1, false) THEN 0 ELSE 1 END)
                   AS f_discount_unit_range,
               sum(CASE WHEN COALESCE(l_shipdate IS NOT NULL, false) THEN 0 ELSE 1 END)
                   AS f_shipdate_present,
               sum(CASE WHEN COALESCE(l_returnflag IN ('A','N','R'), false) THEN 0 ELSE 1 END)
                   AS f_returnflag_domain
        FROM lineitem
    )
    SELECT rule,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_failed AS BIGINT) AS n_failed,
           CAST(round(1.0 - n_failed / greatest(n_rows, 1), 6) AS DOUBLE)
               AS pass_ratio
    FROM (
        SELECT 'qty_positive' AS rule, n_rows, f_qty_positive AS n_failed FROM agg
        UNION ALL
        SELECT 'discount_unit_range', n_rows, f_discount_unit_range FROM agg
        UNION ALL
        SELECT 'shipdate_present', n_rows, f_shipdate_present FROM agg
        UNION ALL
        SELECT 'returnflag_domain', n_rows, f_returnflag_domain FROM agg
    )
    """,
)
def q_quality_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate: 4 expectations over lineitem in
    ONE scan + one global aggregate (rules fan out columnar, not as
    N jobs)."""
    from nyc_opendata_etl_spark.operators.quality import validate

    li = load_table(spark, sf_dir, "lineitem")
    return validate(
        li,
        {
            "qty_positive": F.col("l_quantity") > 0,
            "discount_unit_range": F.col("l_discount").between(0, 1),
            "shipdate_present": F.col("l_shipdate").isNotNull(),
            "returnflag_domain": F.col("l_returnflag").isin("A", "N", "R"),
        },
    )


# Hard cap on per-user sequence length: a skewed user (bot traffic) at
# 100× would otherwise become one multi-GB row inside the aggregate
# buffer. seq keeps the FIRST K events in total (ts, event_id) order;
# seq_len stays the true count, so truncation is visible (seq_len > K).
USER_SEQ_MAX_LEN = 1000


@register(
    "events_user_sequences",
    oracle=f"""
    SELECT user_id,
           array_to_string(
               list_slice(list(event_type ORDER BY ts, event_id),
                          1, {USER_SEQ_MAX_LEN}), '|') AS seq,
           CAST(len(list(event_type)) AS INT) AS seq_len
    FROM events
    GROUP BY user_id
    """,
)
def q_events_user_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered event sequences — the raw material of
    sequence-model training data. collect_list has no deterministic
    order in a distributed agg, so elements are collected as
    (ts, event_id, type) structs and sort_array imposes the total order
    AFTER the shuffle — one hash aggregate, deterministic output.
    Sequences are capped at USER_SEQ_MAX_LEN (skew guard; both sides
    truncate the same deterministic prefix, so the oracle still
    matches). The sequence is emitted '|'-joined rather than as
    array<string>: the driver's pandas canonicalizer cannot sort/hash
    list-valued columns, so registered queries must emit scalars only."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("user_id").agg(
        F.array_join(
            F.slice(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                1,
                USER_SEQ_MAX_LEN,
            ),
            "|",
        ).alias("seq"),
        F.count("*").cast("int").alias("seq_len"),
    )


@register(
    "events_transitions",
    oracle="""
    WITH w AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    )
    SELECT event_type, next_type, count(*) AS n
    FROM w WHERE next_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def q_events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order transition counts (Markov matrix) over per-user event
    streams: one window pass + one aggregate."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select(
            "event_type", F.lead("event_type").over(w).alias("next_type")
        )
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count("*").alias("n"))
    )


@register(
    "events_sessionize",
    oracle="""
    WITH marks AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts,
               CAST(sum(new_s) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS session_idx
        FROM marks
    )
    SELECT user_id, session_idx,
           min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events
    FROM sess GROUP BY user_id, session_idx
    """,
)
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-based sessionization (30-minute inactivity cut): the
    lag-mark-cumsum idiom — two window passes over ONE partitioning (a
    single shuffle on user_id; Catalyst collapses both windows into one
    sort) followed by the session aggregate. The batch twin of the
    streaming session_windows query, with an exact value oracle instead
    of a watermark-dependent one."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wc = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Gap compared in MICROseconds on both sides: whole-second casts
    # truncate, so a sub-second gap in (1800s, 1801s) would split
    # sessions differently in the two engines (tie-fragility class
    # documented in NOTES.md; found by advisor review r2).
    # timestampdiff (not unix_micros) because events.ts arrives as
    # TIMESTAMP_NTZ on Spark 4.1's native parquet-NANOS read and
    # unix_micros only accepts TIMESTAMP; timestampdiff takes both.
    gap = F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
    new_s = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    return (
        events.withColumn("prev_ts", F.lag("ts").over(w))
        .select("user_id", "ts", "event_id", new_s.alias("new_s"))
        .select(
            "user_id", "ts", F.sum("new_s").over(wc).alias("session_idx")
        )
        .groupBy("user_id", "session_idx")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
    )


@register(
    "rollup_incremental",
    oracle="""
    SELECT CAST(ts AS DATE) AS event_day, event_type,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE)
               AS sum_value,
           min(value) AS min_value,
           max(value) AS max_value,
           count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*), 6) AS avg_value
    FROM events GROUP BY 1, 2
    """,
)
def q_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized rollup: history state (even event_ids)
    and a new batch (odd ids) each collapse to partial sum/min/max/count
    state per (day, event_type), then merge — and the merged state must
    equal a from-scratch aggregate over everything, which is exactly
    what the oracle computes. avg is derived from the stored moments at
    read time (it is not re-aggregatable itself)."""
    from nyc_opendata_etl_spark.operators.rollup import (
        aggregate_batch,
        merge_rollup,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("event_day"),
        "event_type",
        "event_id",
        F.col("value").cast("decimal(18,6)").alias("value_dec"),
        "value",
    )
    keys = ["event_day", "event_type"]
    measures = {"value_dec": ("sum",), "value": ("min", "max")}
    state = aggregate_batch(ev.filter(F.col("event_id") % 2 == 0), keys, measures)
    batch = aggregate_batch(ev.filter(F.col("event_id") % 2 == 1), keys, measures)
    merged = merge_rollup(state, batch, keys, measures)
    return merged.select(
        "event_day",
        "event_type",
        F.round(F.col("sum_value_dec").cast("double"), 6).alias("sum_value"),
        F.col("min_value").alias("min_value"),
        F.col("max_value").alias("max_value"),
        F.col("n").alias("n_events"),
        F.round(F.col("sum_value_dec").cast("double") / F.col("n"), 6).alias(
            "avg_value"
        ),
    )


@register(
    "rollup_hll_distinct",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS event_day,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           true AS hll_within_5pct
    FROM events GROUP BY 1
    UNION ALL
    SELECT 'ALL' AS event_day, count(*) AS n_events,
           count(DISTINCT user_id) AS n_users, true AS hll_within_5pct
    FROM events
    """,
)
def q_rollup_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable approx-distinct rollup: daily HLL sketches of
    user_id are built from two disjoint batches (even/odd event_ids) and
    MERGED — then the all-time row re-rolls the daily sketches again
    via hll_union_agg, never re-scanning events. Exact distinct counts
    are computed alongside as the verification surface: the driver-
    checked boolean asserts every estimate lands within 5% of exact
    (lg_k=12 → ~1.6% rsd), turning the sketch's accuracy contract into
    a hard differential invariant. Event counts ride the same state
    (sum-mergeable), so those columns are exact."""
    from nyc_opendata_etl_spark.operators.rollup import (
        hll_batch,
        hll_merge,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("event_day"), "user_id", "event_id"
    )
    state = hll_batch(ev.filter(F.col("event_id") % 2 == 0), ["event_day"], ["user_id"])
    batch = hll_batch(ev.filter(F.col("event_id") % 2 == 1), ["event_day"], ["user_id"])
    merged = hll_merge(state, batch, ["event_day"], ["user_id"])
    exact = ev.groupBy("event_day").agg(F.countDistinct("user_id").alias("n_users"))
    within = (
        F.abs(F.hll_sketch_estimate("hll_user_id") - F.col("n_users"))
        <= 0.05 * F.col("n_users")
    ).alias("hll_within_5pct")
    per_day = merged.join(exact, "event_day").select(
        "event_day", F.col("n").alias("n_events"), "n_users", within
    )
    tot_merged = merged.agg(
        F.hll_sketch_estimate(F.hll_union_agg("hll_user_id")).alias("est"),
        F.sum("n").alias("n_events"),
    )
    tot_exact = ev.agg(F.countDistinct("user_id").alias("n_users"))
    total = tot_exact.crossJoin(F.broadcast(tot_merged)).select(
        F.lit("ALL").alias("event_day"),
        "n_events",
        "n_users",
        (F.abs(F.col("est") - F.col("n_users")) <= 0.05 * F.col("n_users")).alias(
            "hll_within_5pct"
        ),
    )
    return per_day.unionByName(total)


@register(
    "sketch_kll_quantiles",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           TRUE AS rank_ok_p50,
           TRUE AS rank_ok_p90,
           TRUE AS rank_ok_p99
    FROM events
    GROUP BY event_type
    """,
)
def q_sketch_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE rollup via Datasketches KLL (Spark 4.1):
    per-event-type p50/p90/p99 of value, where the sketch state is
    built from two disjoint batches (even/odd event_ids) and MERGED —
    the persisted-partial-state shape `rollup_incremental` maintains
    for sums, extended to order statistics. approx_percentile (the
    agg_percentile_approx query) is a per-query GK sketch that cannot
    be stored or re-aggregated; KLL state can, so daily sketches roll
    to monthly without re-scanning history — the only viable
    percentile maintenance shape at 100 TB. Verification: the sketch
    values themselves are not engine-replayable, so the query computes
    the EXACT rank of each estimated quantile with one pass over
    events (broadcast of the 5-row estimate table) and emits
    driver-checked booleans asserting the rank lands within ±2.5% of
    target — KLL k=400 bounds one-sided normalized rank error well
    under that (measured ≤0.5% at sf0.1). n_events rides the sketch
    state (sum-merged) and is exact."""
    from nyc_opendata_etl_spark.operators.rollup import kll_batch, kll_merge

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.col("value").cast("double").alias("value"),
    )
    keys, cols = ["event_type"], ["value"]
    state = kll_batch(ev.filter(F.col("event_id") % 2 == 0), keys, cols)
    batch = kll_batch(ev.filter(F.col("event_id") % 2 == 1), keys, cols)
    merged = kll_merge(state, batch, keys, cols)
    est = merged.select(
        "event_type",
        F.col("n").alias("n_events"),
        F.kll_sketch_get_quantile_double("kll_value", F.lit(0.5)).alias("q50"),
        F.kll_sketch_get_quantile_double("kll_value", F.lit(0.9)).alias("q90"),
        F.kll_sketch_get_quantile_double("kll_value", F.lit(0.99)).alias("q99"),
    )

    def rank_ok(q: str, target: float) -> F.Column:
        r = F.sum((F.col("value") <= F.col(q)).cast("long")) / F.count(F.lit(1))
        return (F.abs(r - F.lit(target)) <= 0.025).alias(f"rank_ok_p{int(target * 100)}")

    return (
        ev.join(F.broadcast(est), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("n_events").alias("n_events"),
            rank_ok("q50", 0.5),
            rank_ok("q90", 0.9),
            rank_ok("q99", 0.99),
        )
    )


@register(
    "events_gapfill_locf",
    oracle="""
    WITH m AS (
        SELECT event_type,
               time_bucket(INTERVAL '1 minute', ts) AS minute_ts,
               sum(CAST(value AS DECIMAL(18,6))) AS v
        FROM events GROUP BY 1, 2
    ),
    b AS (SELECT min(minute_ts) AS lo, max(minute_ts) AS hi FROM m),
    types AS (SELECT DISTINCT event_type FROM events),
    spine AS (
        SELECT t.event_type,
               unnest(generate_series(b.lo, b.hi, INTERVAL '1 minute'))
                   AS minute_ts
        FROM types t, b
    ),
    j AS (
        SELECT s.event_type, s.minute_ts, m.v
        FROM spine s LEFT JOIN m USING (event_type, minute_ts)
    )
    SELECT event_type, minute_ts,
           CAST(round(last_value(v IGNORE NULLS) OVER (
                    PARTITION BY event_type ORDER BY minute_ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                AS DOUBLE) AS value_filled,
           (v IS NULL) AS is_gap
    FROM j
    """,
)
def q_events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + gap fill: aggregate per (event_type,
    minute), densify onto a generated minute spine (sequence + explode —
    the spine's size is the time range, independent of data volume), and
    fill gaps by last-observation-carried-forward
    (``last(ignorenulls)`` over an unbounded-preceding frame — one
    window per series, no self-join). Sums route through DECIMAL so the
    carried values are exact in both engines; minutes before a series'
    first observation stay NULL."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("minute", "ts").alias("minute_ts"),
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    per_min = ev.groupBy("event_type", "minute_ts").agg(F.sum("v").alias("v"))
    bounds = per_min.agg(
        F.min("minute_ts").alias("lo"), F.max("minute_ts").alias("hi")
    )
    types = ev.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 MINUTE"))
        ).alias("minute_ts"),
    )
    joined = spine.join(per_min, ["event_type", "minute_ts"], "left")
    from pyspark.sql import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy("minute_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "event_type",
        "minute_ts",
        F.round(F.last("v", ignorenulls=True).over(w), 6)
        .cast("double")
        .alias("value_filled"),
        F.col("v").isNull().alias("is_gap"),
    )


@register(
    "events_attribution",
    oracle="""
    WITH seq AS (
        SELECT event_id, user_id, ts, event_type,
               last_value(CASE WHEN event_type = 'click' THEN event_id END
                          IGNORE NULLS) OVER w AS click_id,
               last_value(CASE WHEN event_type = 'click' THEN ts END
                          IGNORE NULLS) OVER w AS click_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
           CASE WHEN click_ts IS NOT NULL
                 AND date_diff('microsecond', click_ts, ts) // 1000000 <= 3600
                THEN click_id END AS attributed_click_id,
           CASE WHEN click_ts IS NOT NULL
                 AND date_diff('microsecond', click_ts, ts) // 1000000 <= 3600
                THEN CAST(date_diff('microsecond', click_ts, ts) // 1000000
                          AS BIGINT)
           END AS seconds_since_click
    FROM seq WHERE event_type = 'purchase'
    """,
)
def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the user's
    most recent preceding click within a 1-hour lookback. One window
    pass per user (the running "last click" carried by
    last_value IGNORE NULLS over ROWS UNBOUNDED PRECEDING..1 PRECEDING)
    — a single shuffle on user_id, no self-join of purchases against
    clicks (the O(purchases × clicks) anti-pattern this operator
    replaces). Elapsed seconds are microsecond diffs floor-divided on
    BOTH engines: Spark's timestampdiff(SECOND) truncates the duration
    while DuckDB's date_diff('second') counts boundary crossings, so
    whole-second primitives disagree on sub-second offsets."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_id = F.last(
        F.when(F.col("event_type") == "click", F.col("event_id")), ignorenulls=True
    ).over(w)
    click_ts = F.last(
        F.when(F.col("event_type") == "click", F.col("ts")), ignorenulls=True
    ).over(w)
    seq = events.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        click_id.alias("click_id"),
        click_ts.alias("click_ts"),
    )
    secs = F.expr("timestampdiff(MICROSECOND, click_ts, ts) div 1000000")
    in_window = F.col("click_ts").isNotNull() & (secs <= 3600)
    return seq.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.when(in_window, F.col("click_id")).alias("attributed_click_id"),
        F.when(in_window, secs.cast("long")).alias("seconds_since_click"),
    )


@register(
    "cdc_apply_changelog",
    oracle="""
    WITH log AS (
        SELECT user_id,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
               value, ts, event_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    SELECT user_id, round(value, 6) AS last_value,
           CAST(ts AS TIMESTAMP) AS updated_at
    FROM log WHERE rn = 1 AND op = 'U'
    """,
)
def q_cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog application (last-writer-wins upsert/delete): the
    events stream read as a change log keyed by user — 'error' rows are
    tombstones, everything else an upsert carrying the new value. The
    materialized table keeps each key's latest surviving version: one
    window pass ordered by (ts, event_id) picks the per-key winner, and
    keys whose final operation is a delete vanish. This is the merge
    step of a medallion bronze→silver hop; at 100 TB the same plan is
    one shuffle on the key — no join against the base table is needed
    when the log is complete, and an incremental run would MERGE the
    winners instead."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    op = F.when(F.col("event_type") == "error", "D").otherwise("U")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    log = events.select(
        "user_id", op.alias("op"), "value", "ts", "event_id"
    ).withColumn("rn", F.row_number().over(w))
    return (
        log.filter((F.col("rn") == 1) & (F.col("op") == "U"))
        .select(
            "user_id",
            F.round("value", 6).alias("last_value"),
            F.col("ts").cast("timestamp").alias("updated_at"),
        )
    )


@register(
    "window_sliding_distinct",
    oracle="""
    SELECT time_bucket(INTERVAL '15 minutes', ts)
               - k * INTERVAL '15 minutes' AS window_start,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)
    GROUP BY 1
    """,
)
def q_window_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window DISTINCT aggregation (hourly unique users every
    15 minutes): the overlap is made explicit — each event expands into
    its 4 covering windows, then one exact distinct aggregate per
    window start. Expansion-then-aggregate is the scalable form: the
    distinct state shuffles once on (window, user) instead of keeping
    per-window hash sets in a stateful operator; swap the exact count
    for approx_count_distinct when sketch accuracy suffices."""
    events = load_table(spark, sf_dir, "events")
    # window start = floor(ts to 15 min) - k * 15 min (mirrors the oracle)
    bucket = F.expr(
        "timestamp_seconds((unix_timestamp(ts) div 900) * 900)"
    ) - F.col("k") * F.expr("INTERVAL 15 MINUTES")
    return (
        events.crossJoin(
            F.broadcast(
                events.sparkSession.range(4).select(F.col("id").alias("k"))
            )
        )
        .select(bucket.alias("window_start"), "user_id")
        .groupBy("window_start")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
    )


@register(
    "events_anomaly_bands",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS event_day, event_type,
               count(*) AS n_events
        FROM events GROUP BY 1, 2
    ),
    scored AS (
        SELECT event_day, event_type, n_events,
               avg(n_events) OVER w AS base_mean,
               stddev_samp(n_events) OVER w AS base_sd,
               count(*) OVER w AS n_base
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY event_day
                     ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_day, event_type, n_events,
           round(base_mean, 6) AS base_mean,
           round((n_events - base_mean) / base_sd, 6) AS z
    FROM scored
    WHERE n_base >= 7 AND base_sd > 0
      AND abs(round((n_events - base_mean) / base_sd, 6)) > 2.0
    """,
)
def q_events_anomaly_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric anomaly detection: flag days whose event count sits more
    than 2 sigma outside the trailing 7-day band, per event type — the
    standard pipeline-observability alert, as one windowed pass over
    the (tiny) daily rollup: the heavy aggregate reduces events to
    days x types first, so the window state is bounded by the calendar,
    not the data. The trailing frame excludes the current day (an
    anomalous day must not defend itself). Counts are integers, but
    Spark and DuckDB may accumulate stddev differently at the ulp
    level, so the 2-sigma threshold is applied to the 6-dp-ROUNDED z on
    both engines — the predicate and the emitted value share one
    canonical representation and row membership cannot flip on a
    sub-ulp tie."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.col("ts").cast("date").alias("event_day"), "event_type"
    ).agg(F.count("*").alias("n_events"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_day")
        .rowsBetween(-7, -1)
    )
    scored = daily.select(
        "event_day",
        "event_type",
        "n_events",
        F.avg("n_events").over(w).alias("base_mean"),
        F.stddev_samp("n_events").over(w).alias("base_sd"),
        F.count("*").over(w).alias("n_base"),
    )
    z = (F.col("n_events") - F.col("base_mean")) / F.col("base_sd")
    return (
        scored.filter(
            (F.col("n_base") >= 7)
            & (F.col("base_sd") > 0)
            & (F.abs(F.round(z, 6)) > 2.0)
        )
        .select(
            "event_day",
            "event_type",
            "n_events",
            F.round("base_mean", 6).alias("base_mean"),
            F.round(z, 6).alias("z"),
        )
    )


@register(
    "layout_zorder_locality",
    oracle="""
    WITH m AS (
        SELECT user_id, CAST(hour(ts) * 60 + minute(ts) AS BIGINT)
                   AS minute_of_day
        FROM events
    ),
    b AS (
        SELECT user_id, minute_of_day,
               (user_id * 2048) // ((SELECT max(user_id) FROM m) + 1)
                   AS user_bucket
        FROM m
    ),
    z AS (SELECT user_id, minute_of_day, ((((user_bucket >> 0) & 1) << 0) | (((user_bucket >> 1) & 1) << 2) | (((user_bucket >> 2) & 1) << 4) | (((user_bucket >> 3) & 1) << 6) | (((user_bucket >> 4) & 1) << 8) | (((user_bucket >> 5) & 1) << 10) | (((user_bucket >> 6) & 1) << 12) | (((user_bucket >> 7) & 1) << 14) | (((user_bucket >> 8) & 1) << 16) | (((user_bucket >> 9) & 1) << 18) | (((user_bucket >> 10) & 1) << 20) | (((minute_of_day >> 0) & 1) << 1) | (((minute_of_day >> 1) & 1) << 3) | (((minute_of_day >> 2) & 1) << 5) | (((minute_of_day >> 3) & 1) << 7) | (((minute_of_day >> 4) & 1) << 9) | (((minute_of_day >> 5) & 1) << 11) | (((minute_of_day >> 6) & 1) << 13) | (((minute_of_day >> 7) & 1) << 15) | (((minute_of_day >> 8) & 1) << 17) | (((minute_of_day >> 9) & 1) << 19) | (((minute_of_day >> 10) & 1) << 21)) AS zv FROM b)
    SELECT CAST(zv >> 12 AS BIGINT) AS z_bucket,
           CAST(count(*) AS BIGINT) AS n_events,
           min(user_id) AS min_user, max(user_id) AS max_user,
           min(minute_of_day) AS min_minute, max(minute_of_day) AS max_minute
    FROM z GROUP BY 1
""",
)
def q_layout_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key for multi-dimensional data
    skipping (operators/layout.zvalue): interleave user_id and
    minute-of-day, then summarize each 12-bit z-prefix region (a
    64x64-aligned box). The per-bucket min/max spans ARE the footer
    stats a z-ordered parquet write gives every file — bounded in BOTH
    dimensions, which is what lets a 2-D range predicate prune files
    before any compute; a single-column sort bounds only one.

    user_id has an unbounded domain, so it is first scaled into the
    11-bit budget with exact integer arithmetic —
    ``(user_id * 2048) div (max_user + 1)`` ∈ [0, 2047] — instead of
    letting zvalue silently mask bits above 2^11 (which would alias
    distinct users and quietly destroy the locality being measured).
    The max is one stats-only aggregate broadcast back, the same shape
    write_zordered uses for its min/max bucketization. minute_of_day
    (< 1440) fits the budget natively. The interleave is a
    shift/mask/OR expression tree inside whole-stage codegen
    (zvalue_sql emits the identical formula for the DuckDB oracle, so
    z-values replay bit-for-bit — both sides use integer division);
    write_zordered applies the same key as a range-repartitioned sorted
    parquet write, verified by the file-stats pruning test in
    tests/test_round6_ops.py."""
    from nyc_opendata_etl_spark.operators.layout import zvalue

    ev = load_table(spark, sf_dir, "events")
    m = ev.select(
        "user_id",
        (F.hour("ts") * 60 + F.minute("ts")).cast("long").alias("minute_of_day"),
    )
    mx = m.agg(F.max("user_id").alias("__max_user__"))
    b = m.crossJoin(F.broadcast(mx)).withColumn(
        "user_bucket",
        F.expr("(user_id * 2048) div (__max_user__ + 1)"),
    )
    z = b.withColumn(
        "zv", zvalue([F.col("user_bucket"), F.col("minute_of_day")], 11)
    )
    return z.groupBy(
        F.shiftright("zv", 12).cast("long").alias("z_bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("user_id").alias("min_user"),
        F.max("user_id").alias("max_user"),
        F.min("minute_of_day").alias("min_minute"),
        F.max("minute_of_day").alias("max_minute"),
    )


def _stage_events_zordered(spark: SparkSession, sf_dir: str) -> str:
    """Stage events as a Z-ORDERED parquet layout on (user_id,
    minute_of_day) once per events version (operators/layout.
    write_zordered: min/max bucketization into the 11-bit budget, one
    range exchange, sorted files). Every staged file's footer then
    bounds BOTH dimensions, so a 2-D box predicate prunes most files
    before any compute — the read-side payoff the layout exists for,
    here under a registered query instead of only a test pin."""
    from nyc_opendata_etl_spark.operators.layout import write_zordered
    from nyc_opendata_etl_spark.sources.staging import is_stale, stage_dir

    path = stage_dir(sf_dir, "events_zordered")
    if is_stale(path, sf_dir, "events"):
        ev = load_table(spark, sf_dir, "events").withColumn(
            "minute_of_day",
            (F.hour("ts") * 60 + F.minute("ts")).cast("long"),
        )
        write_zordered(
            ev, ["user_id", "minute_of_day"], path, bits=11, num_files=16
        )
    return path


@register(
    "layout_zorder_pruned_scan",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE)
               AS sum_value
    FROM events
    WHERE user_id BETWEEN 10 AND 120
      AND (hour(ts) * 60 + minute(ts)) BETWEEN 540 AND 779
    GROUP BY event_type
    """,
)
def q_layout_zorder_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D box query over the STAGED z-ordered events layout
    (_stage_events_zordered): morning activity (minutes 540-779) of a
    user band (10-120, non-empty at every SF), aggregated per event type. The predicates push
    into the parquet scan and meet footer min/max stats that the Morton
    layout keeps TIGHT IN BOTH dimensions — most files never open
    (pruning pinned in tests/test_round7_ops.py; a single-column sort
    would bound only one dimension). Values are layout-independent
    (exact filters + decimal-folded sum), so the oracle runs the same
    predicates against the raw table — a green row proves the layout
    changed the read cost, never the answer."""
    path = _stage_events_zordered(spark, sf_dir)
    ev = spark.read.parquet(path)
    return (
        ev.filter(
            F.col("user_id").between(10, 120)
            & F.col("minute_of_day").between(540, 779)
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 6)
            .cast("double")
            .alias("sum_value"),
        )
    )


# --------------------------------------------------------------------------
# Time-series resampling: OHLC downsample (min_by/max_by selection aggs)
# --------------------------------------------------------------------------

# Total order over events within a bar: (ts, event_id) encoded as one
# sortable string so open/close selection is deterministic under ts ties
# and portable (Spark min_by/max_by == DuckDB arg_min/arg_max).
_OHLC_ORD_SQL = (
    "strftime(ts, '%Y%m%d%H%M%S%f') || lpad(CAST(event_id AS VARCHAR), 12, '0')"
)


@register(
    "events_resample_ohlc",
    oracle=f"""
    SELECT event_type,
           CAST(ts AS DATE) AS bar_date,
           arg_min(value, {_OHLC_ORD_SQL}) AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, {_OHLC_ORD_SQL}) AS close,
           count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_events_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample the event stream to daily OHLC bars per event type —
    the canonical time-series resample. open/close are SELECTION
    aggregates (min_by/max_by over a total (ts, event_id) order), not
    window functions: one hash aggregate with map-side partials, no
    per-partition sort, no shuffle of the raw stream beyond the bar
    keys — the shape that survives 100 TB of ticks. The (ts, event_id)
    order is encoded as a zero-padded string so ties in ts resolve
    identically in Spark (min_by/max_by) and DuckDB (arg_min/arg_max).
    Volume folds through DECIMAL(18,2) so the sum is order-exact."""
    ev = load_table(spark, sf_dir, "events")
    ord_key = F.concat(
        F.date_format("ts", "yyyyMMddHHmmssSSSSSS"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return ev.groupBy(
        "event_type", F.to_date("ts").alias("bar_date")
    ).agg(
        F.min_by("value", ord_key).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", ord_key).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("total_value"),
    )


@register(
    "profile_key_skew",
    oracle="""
    WITH per_key AS (
        SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS cnt
        FROM events GROUP BY 1
    ),
    stats AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS nkeys
        FROM per_key
    )
    SELECT key, cnt,
           round(cnt / CAST(total AS DOUBLE), 6) AS frac,
           round(cnt * nkeys / CAST(total AS DOUBLE), 6) AS skew_ratio
    FROM per_key, stats
    ORDER BY cnt DESC, key
    LIMIT 10
    """,
)
def q_profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter profile of events.user_id as a join key: top-10
    values with row share and skew ratio (count ÷ mean per key) — the
    pre-join diagnostic that decides between plain hash partitioning,
    AQE skew splitting, and salted_join, naming the keys to salt.
    Map-side-combined count, broadcast 1-row stats, TakeOrderedAndProject
    top-k."""
    from nyc_opendata_etl_spark.operators.skew import key_skew_profile

    events = load_table(spark, sf_dir, "events", spread_input=True)
    return key_skew_profile(events, "user_id", top=10)


@register(
    "events_pattern_match",
    oracle="""
    WITH seq AS (
        SELECT user_id,
               string_agg(substr(event_type, 1, 1), ''
                          ORDER BY ts, event_id) AS s
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(s) AS BIGINT) AS n_events,
           CAST(len(regexp_extract_all(s, 'vc*p')) AS BIGINT)
               AS n_conversions
    FROM seq
    WHERE len(regexp_extract_all(s, 'vc*p')) > 0
    """,
)
def q_events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence pattern detection, the SQL:2016
    row-pattern feature Spark lacks: per-user chronological event
    sequences are reduced to a one-char-per-event string (type initials
    are distinct here) and the conversion pattern ``view click* purchase``
    is counted as non-overlapping regex matches — the pattern-automaton
    semantics MATCH_RECOGNIZE's AFTER MATCH SKIP PAST LAST ROW gives.
    Unlike events_funnel (ordered-stage counts) this detects every
    REPEATED occurrence with arbitrary noise tolerance encoded in the
    pattern. One hash aggregate builds the sequences (order imposed by
    sort_array on (ts, event_id) structs after the shuffle — collect_list
    alone has no deterministic order); the regex scan is per-row
    expression work. Per-key state is bounded by events-per-user — at
    production scale the same query runs on sessionized windows
    (events_sessionize) instead of whole-user histories."""
    events = load_table(spark, sf_dir, "events")
    seq = events.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            "ts",
                            "event_id",
                            F.substring("event_type", 1, 1).alias("c"),
                        )
                    )
                ),
                lambda s: s["c"],
            ),
            "",
        ).alias("s")
    )
    n_conv = F.size(F.regexp_extract_all("s", F.lit("vc*p"), F.lit(0)))
    return seq.select(
        "user_id",
        F.length("s").cast("long").alias("n_events"),
        n_conv.cast("long").alias("n_conversions"),
    ).filter(F.col("n_conversions") > 0)
