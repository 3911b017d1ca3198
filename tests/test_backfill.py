"""Backfill driver tests: month iteration parity with the reference's
rollover loop, and idempotent per-window dynamic partition overwrite."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from nyc_opendata_etl_spark.operators.backfill import (
    backfill_partitioned,
    month_windows,
    run_month_by_month,
)
from nyc_opendata_etl_spark.sources.batch_log import current_dir


def test_month_windows_rollover():
    ws = list(
        month_windows(datetime.date(2013, 7, 1), datetime.date(2014, 2, 1))
    )
    assert ws[0] == (datetime.date(2013, 7, 1), datetime.date(2013, 8, 1))
    assert ws[-1] == (datetime.date(2014, 1, 1), datetime.date(2014, 2, 1))
    assert len(ws) == 7  # Jul..Dec 2013 + Jan 2014, year rollover included
    # ragged end clamps
    ws2 = list(month_windows(datetime.date(2024, 1, 5), datetime.date(2024, 2, 15)))
    assert ws2 == [
        (datetime.date(2024, 1, 1), datetime.date(2024, 2, 1)),
        (datetime.date(2024, 2, 1), datetime.date(2024, 2, 15)),
    ]


def test_run_month_by_month_counts():
    seen = []
    n = run_month_by_month(
        lambda s, e: seen.append((s, e)),
        datetime.date(2023, 11, 1),
        datetime.date(2024, 2, 1),
    )
    assert n == len(seen) == 3


def test_backfill_partitioned_is_idempotent_per_window(spark, tmp_path):
    sink = str(tmp_path / "sink")
    df = spark.createDataFrame(
        [
            (1, "2024-01-10 00:00:00", "a"),
            (2, "2024-02-10 00:00:00", "b"),
            (3, "2024-02-20 00:00:00", "c"),
        ],
        "id long, ts string, v string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    backfill_partitioned(df, "ts", sink)
    assert spark.read.parquet(current_dir(sink)).count() == 3

    # re-run ONLY February with revised data: January must be untouched,
    # February fully replaced (not appended)
    feb_revised = spark.createDataFrame(
        [(9, "2024-02-11 00:00:00", "B!")], "id long, ts string, v string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    backfill_partitioned(
        feb_revised,
        "ts",
        sink,
        start=datetime.date(2024, 2, 1),
        end=datetime.date(2024, 3, 1),
    )
    out = spark.read.parquet(current_dir(sink))
    assert {r.id for r in out.collect()} == {1, 9}
    assert {r.month for r in out.collect()} == {"2024-01", "2024-02"}


def test_compact_partitions(spark, tmp_path):
    import glob

    from nyc_opendata_etl_spark.operators.backfill import compact_partitions

    sink = str(tmp_path / "sink")
    df = spark.createDataFrame(
        [(i, f"2024-0{1 + i % 2}-10 00:00:00", "x") for i in range(100)],
        "id long, ts string, v string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    # simulate micro-batch residue: 8 small files per month partition
    (
        df.withColumn("month", F.date_format("ts", "yyyy-MM"))
        .repartition(8)
        .write.partitionBy("month")
        .parquet(current_dir(sink))
    )
    before = glob.glob(f"{sink}/v=*/month=*/part-*.parquet")
    assert len(before) > 2

    assert compact_partitions(spark, sink) == 100
    after = glob.glob(f"{sink}/v=*/month=*/part-*.parquet")
    assert len(after) == 2  # one file per month partition
    assert spark.read.parquet(current_dir(sink)).count() == 100

def test_backfill_partitioned_idempotent_on_static_mode_session(spark, tmp_path):
    """The per-window replace guarantee must not depend on the session
    conf partitionOverwriteMode=dynamic (set in session.py): the writer
    pins dynamic mode itself, so even a session configured STATIC — like
    any vanilla getOrCreate() — replaces only the window's months."""
    sink = str(tmp_path / "sink_static")
    df = spark.createDataFrame(
        [
            (1, "2024-01-10 00:00:00", "a"),
            (2, "2024-02-10 00:00:00", "b"),
        ],
        "id long, ts string, v string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        backfill_partitioned(df, "ts", sink)
        feb = spark.createDataFrame(
            [(9, "2024-02-11 00:00:00", "B!")], "id long, ts string, v string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        backfill_partitioned(
            feb, "ts", sink,
            start=datetime.date(2024, 2, 1), end=datetime.date(2024, 3, 1),
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    out = spark.read.parquet(current_dir(sink))
    # static mode would have truncated January away; dynamic-at-writer keeps it
    assert {r.id for r in out.collect()} == {1, 9}


def test_compact_partitions_leaves_no_temp_dirs(spark, tmp_path):
    """A compaction over a backfilled sink commits one new version and
    leaves no other version or sibling directory behind."""
    import os

    from nyc_opendata_etl_spark.operators.backfill import compact_partitions

    sink = str(tmp_path / "sink_tmpcheck")
    df = spark.createDataFrame(
        [(i, "2024-01-10 00:00:00", "x") for i in range(10)],
        "id long, ts string, v string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    backfill_partitioned(df.repartition(4), "ts", sink)
    assert compact_partitions(spark, sink) == 10
    assert spark.read.parquet(current_dir(sink)).count() == 10
    assert sorted(os.listdir(sink)) == ["_CURRENT", "v=1"]
    assert os.listdir(tmp_path) == ["sink_tmpcheck"]


def test_compact_partitions_rejects_a_remote_uri_before_any_job(spark, tmp_path):
    """The root resolver every read, append and commit calls first
    rejects a non-local URI: a local read of its pointer would find
    none and resolve to an empty ``v=0``."""
    import os

    import pytest

    from nyc_opendata_etl_spark.operators.backfill import compact_partitions
    from nyc_opendata_etl_spark.operators.index_maintenance import (
        compact_fingerprint_index,
    )
    from tools.harness import JobCounter

    jobs = JobCounter.for_spark(spark)
    jobs.read()
    cwd = os.getcwd()
    os.chdir(tmp_path)
    try:
        with pytest.raises(ValueError, match="s3a://b/idx"):
            compact_fingerprint_index(spark, "s3a://b/idx")
        with pytest.raises(ValueError, match="s3a://b/sink"):
            compact_partitions(spark, "s3a://b/sink")
    finally:
        os.chdir(cwd)
    assert jobs.read()["jobs"] == 0
    assert os.listdir(tmp_path) == []
