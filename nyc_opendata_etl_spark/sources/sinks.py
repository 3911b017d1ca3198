"""Warehouse sinks (SURVEY §2 K1-K4).

The reference appends every table to BigQuery (``dim_loader.py:23-30``,
``load_311.py:113-126``, ``load_parking.py:142-153``,
``load_integrated_fact.py:6-24``). Here the sink is an interface with
two implementations:

* :func:`append_parquet` — the test/bench path and the generic lake
  path: append-mode parquet, optionally hive-partitioned. Partitioning
  the parking fact by ``fiscal_year`` turns the reference's manual
  per-FY dataset map into real partition pruning (Catalyst prunes
  ``WHERE fiscal_year = X`` scans to one directory).
* :func:`append_bigquery` — the production path, delegating to the
  spark-bigquery connector when its jar is on the classpath (not in
  this container; guarded, like every network dependency in this repo).

Both keep the reference's empty-input no-op guard (``dim_loader.py:24-26``).
On the parquet path the guard rides the write: the rows are counted by
an ``Observation`` on the write job, into a hidden staging directory
beside the table, and only a non-zero count moves the files into the
table (Hadoop ``FileSystem`` renames, so remote URIs work too). A
separate ``isEmpty`` job would cost a whole pass per table, and its
``limit(1)`` stage never hits the codegen cache: each plan numbers its
limit counter afresh.
"""

from __future__ import annotations

import uuid

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _move(fs, src, dst) -> None:
    """Move the file or directory of status ``src`` to ``dst``. A
    directory whose ``dst`` exists (the table, an existing partition) is
    merged child by child; anything else moves in one rename, a file
    replacing its namesake (only ``_SUCCESS`` can collide: part file
    names carry the writing job's id). A checksummed file system renames
    each ``.crc`` with its file."""
    if src.isDirectory() and fs.exists(dst):
        for child in fs.listStatus(src.getPath()):
            _move(fs, child, dst.suffix("/" + child.getPath().getName()))
        return
    fs.delete(dst, False)
    if not fs.rename(src.getPath(), dst):
        raise OSError(f"could not move {src.getPath()} to {dst}")


def append_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> int:
    """Append to a parquet table; returns the rows written, 0 on the
    empty-input no-op.

    The rows are counted by an ``Observation`` riding the write job
    itself. The write lands in a fresh hidden sibling of ``path``; only
    a non-zero count moves its files into ``path``, so an empty input
    (which Spark still writes as one schema-only part file) and a failed
    write both leave ``path`` as it was, and create none of its missing
    ancestors. The staging directory is always removed."""
    spark = df.sparkSession
    target = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = target.getFileSystem(spark._jsc.hadoopConfiguration())
    target = fs.makeQualified(target)
    parent = target.getParent()
    staging = parent.suffix(f"/.{target.getName()}.staging-{uuid.uuid4().hex}")
    created = []  # the missing ancestors the staging write creates, innermost first
    while parent is not None and not fs.exists(parent):
        created.append(parent)
        parent = parent.getParent()
    obs = Observation()
    rows = 0
    try:
        writer = df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("append")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staging.toString())
        rows = int(obs.get["rows"])
        if rows:
            _move(fs, fs.getFileStatus(staging), target)
        return rows
    finally:
        fs.delete(staging, True)
        if not rows:
            for d in created:
                try:
                    fs.delete(d, False)
                except Py4JJavaError:  # not empty: another writer is using it
                    break


def append_bigquery(df: DataFrame, table_id: str) -> None:
    """``project.dataset.table`` append via the spark-bigquery connector
    (WRITE_APPEND disposition like the reference's load jobs)."""
    if df.isEmpty():
        return
    try:
        (
            df.write.format("bigquery")
            .mode("append")
            .option("table", table_id)
            .option("writeMethod", "direct")
            .save()
        )
    except Exception as exc:  # pragma: no cover - connector not installed here
        raise NotImplementedError(
            "spark-bigquery connector jar not available in this environment; "
            "use append_parquet for the lake path"
        ) from exc


def append_bigquery_table(df: DataFrame, settings, logical_table: str) -> None:
    """Settings-driven append: logical table key → configured
    ``project.dataset.table`` id, exactly like the reference's loaders
    composing ``table_id`` from config (``dim_loader.py:15-21``,
    ``load_311.py:113-126``)."""
    append_bigquery(df, settings.bq_table_id(logical_table))


def write_warehouse(
    tables: dict[str, DataFrame], base_path: str, partition_overrides: dict[str, list[str]] | None = None
) -> dict[str, int]:
    """Write every star-schema output under ``base_path/<table>/``;
    returns the rows each table appended."""
    overrides = partition_overrides or {}
    return {
        name: append_parquet(df, f"{base_path}/{name}", overrides.get(name))
        for name, df in tables.items()
    }


def append_parquet_sized(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    target_file_bytes: int = 128 << 20,
) -> int:
    """:func:`append_parquet` with write-time small-file prevention: an
    AQE REBALANCE hint makes the final stage re-split its output to
    ~``target_file_bytes`` partitions — merging trickles AND splitting
    skewed partitions — so one file lands per ~target regardless of the
    upstream partitioning. It prevents at write time what
    ``operators/backfill.compact_partitions`` repairs afterwards on the
    versioned month sinks (an append sink here has no versions to
    commit); at 100 TB sinks that skip it bury the table in per-task
    files and every later scan pays the open-cost tax.

    When ``partition_by`` is given the rebalance keys on those columns,
    so each hive partition's rows co-locate before the write (one file
    per partition value per ~target, not one per task per value).

    Same staged, observed commit as :func:`append_parquet`: returns the
    rows written, and an empty input is the same no-op.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", None)
    spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", str(target_file_bytes)
    )
    try:
        return append_parquet(
            df.hint("rebalance", *(partition_by or [])), path, partition_by
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        else:
            spark.conf.set(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes", prev
            )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int,
    path: str,
) -> None:
    """Write as a BUCKETED (hash-clustered) parquet table: rows are
    hash-partitioned on ``bucket_cols`` into exactly ``n_buckets``
    files per write, sorted within each bucket, and registered in the
    session catalog (external table at ``path``).

    Bucketing is the write-time answer to the single most expensive
    operation at 100 TB — the repeated shuffle of a big fact table on
    the same join/aggregation key. Two tables bucketed on the same key
    with the same bucket count join with NO Exchange on either side
    (pinned in tests/test_plans.py): the shuffle was paid once at write
    time and amortizes over every subsequent join, aggregation, or
    window on that key. The empty-input guard mirrors the other sinks."""
    if df.isEmpty():
        return
    (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .saveAsTable(table_name)
    )
