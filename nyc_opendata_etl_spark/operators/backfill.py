"""Windowed incremental loads and the monthly backfill driver.

The reference's unit of work is a ``[start, end)`` batch window, with a
history backfill that shells out one subprocess per month from 2013-07
(``load_history.py:4-17``). Spark-native equivalents:

* :func:`month_windows` — the same month iteration, as data.
* :func:`run_month_by_month` — the literal driver loop (one batch job
  per window; embarrassingly parallel across months except for shared
  dim appends, SURVEY §3 E2).
* :func:`backfill_partitioned` — the better-than-literal form: process
  the whole range in ONE job, partition the sink by month, and rely on
  dynamic partition overwrite so re-running any window replaces exactly
  that window's partitions — idempotent backfills without truncate/
  reload, and no per-month job overhead. At 100 TB this is the shape
  you want: partition pruning on read, per-partition overwrite on
  write, month-level parallelism inside one DAG.
"""

from __future__ import annotations

import datetime
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nyc_opendata_etl_spark.sources.batch_log import (
    commit,
    current_dir,
    write_folded,
)


def month_windows(
    start: datetime.date, end: datetime.date
) -> Iterator[tuple[datetime.date, datetime.date]]:
    """[month_start, next_month_start) windows covering [start, end),
    mirroring the reference's rollover arithmetic (load_history.py:9-13)."""
    cur = start.replace(day=1)
    while cur < end:
        nxt = (
            cur.replace(year=cur.year + 1, month=1)
            if cur.month == 12
            else cur.replace(month=cur.month + 1)
        )
        yield cur, min(nxt, end)
        cur = nxt


def run_month_by_month(
    job: Callable[[datetime.date, datetime.date], None],
    start: datetime.date,
    end: datetime.date,
) -> int:
    """The reference's driver loop, minus the subprocesses: run ``job``
    once per month window; returns windows run."""
    n = 0
    for w_start, w_end in month_windows(start, end):
        job(w_start, w_end)
        n += 1
    return n


def backfill_partitioned(
    df: DataFrame,
    ts_col: str,
    sink_path: str,
    start: datetime.date | None = None,
    end: datetime.date | None = None,
    partition_col: str = "month",
) -> None:
    """One-job backfill into a month-partitioned parquet sink.

    Dynamic partition overwrite is pinned at the WRITER level (not
    session conf), so overwrite replaces ONLY the months present in the
    input window on any session — re-running a window is idempotent and
    touches nothing else. The write goes into the committed version of
    the versioned root ``sink_path`` (``batch_log.current_dir``).
    """
    out = df
    if start is not None:
        out = out.filter(F.col(ts_col) >= F.lit(str(start)).cast("timestamp"))
    if end is not None:
        out = out.filter(F.col(ts_col) < F.lit(str(end)).cast("timestamp"))
    out = out.withColumn(partition_col, F.date_format(ts_col, "yyyy-MM"))
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(current_dir(sink_path))
    )


def compact_partitions(
    spark, sink_path: str, partition_col: str = "month"
) -> int:
    """Compact a month sink written by :func:`backfill_partitioned` or
    ``events.stream_to_partitioned_sink`` (a versioned root of
    ``sources/batch_log.py``): one shuffle clustered by the partition
    column rewrites each partition's small files (at 100 TB a month of
    5-minute micro-batches leaves ~8k) as one file, committed as the
    sink's next version, so a crash leaves the old or the new version
    serving. A streamed sink's ``b`` partitions fold into the reserved
    compacted id, so later batches land beside it. A remote URI raises
    ``ValueError`` before any job. Returns the row count.
    """
    df = spark.read.parquet(current_dir(sink_path))
    n = df.count()
    commit(
        sink_path,
        lambda new: write_folded(
            df.repartition(F.col(partition_col)), new, partition_col
        ),
    )
    return n
