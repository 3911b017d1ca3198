"""The on-disk formats of every replay-safe stateful writer.

**Batch log.** :func:`write_batch` writes rows under partition ``b`` =
the micro-batch id (builds, compactions and takedowns use reserved
negative ids). Structured Streaming's offset log pins a batch's rows
across restarts, so a batch that replaces exactly its own ``b``
partitions (``overwrite="dynamic"``) rewrites, never re-appends, on
replay; a batch that also reads the log leaves its own ``b`` out of
the read, so a replay sees the pre-batch state whatever a crashed
attempt wrote. Callers must pass a durable ``checkpoint_location``
(:func:`~nyc_opendata_etl_spark.streaming.drain.drain` enforces it).
:func:`read_log` reads with the family's declared schema: no
schema-inference job, and a log without part files reads as empty.

**Versioned snapshots.** A writer that rewrites the whole relation per
batch reads the newest version strictly below its batch
(:func:`version_below`), never the pointer (a replay following it would
merge the batch into its own output), and :func:`write_version` writes
``v=<batch>`` then re-points ``_CURRENT`` (temp file + ``os.replace``).
Local file system only, like the compaction swaps.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_batch(
    df: DataFrame,
    path: str,
    b: int,
    overwrite: str | None = None,
    partition_by: tuple[str, ...] = (),
) -> None:
    """Write ``df`` under partition ``b`` of the log at ``path``, nested
    below ``partition_by``: appended, or with ``overwrite`` as the
    writer's ``partitionOverwriteMode`` (``"dynamic"`` replaces only the
    partitions written, ``"static"`` the whole directory), never the
    session's."""
    w = df.withColumn("b", F.lit(b)).write.partitionBy(*partition_by, "b")
    if overwrite is None:
        w = w.mode("append")
    else:
        w = w.mode("overwrite").option("partitionOverwriteMode", overwrite)
    w.parquet(path)


def read_log(spark: SparkSession, path: str, schema) -> DataFrame | None:
    """The log (or snapshot) at ``path`` read with ``schema``, or None
    if ``path`` does not exist (a stream's first batch). Any other
    failure raises: reading a transient error as "empty" would admit
    rows the log already holds. So does a missing ``path`` beside a
    ``path + "__compact_old"``, a compaction swap that died between its
    renames: as "no log", the next batch would recreate ``path`` and
    bury the old log (recovery: rename the sibling back)."""
    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e):
            raise
    old = path.rstrip("/") + "__compact_old"
    if os.path.exists(old):
        raise FileNotFoundError(
            f"{path} is missing but {old} exists: a compaction swap was "
            f"interrupted; rename {old} back to {path}"
        )
    return None


def must_read_log(spark: SparkSession, path: str, schema) -> DataFrame:
    """:func:`read_log` of a relation its artifact always has: a missing
    ``path`` raises."""
    df = read_log(spark, path, schema)
    if df is None:
        raise FileNotFoundError(f"no log at {path}")
    return df


def version_dirs(path: str) -> list[int]:
    """The snapshot versions (``v=<n>`` directories) under ``path``,
    ascending; empty if ``path`` does not exist."""
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return []
    tails = (n[2:] for n in names if n.startswith("v="))
    return sorted(int(t) for t in tails if t.lstrip("-").isdigit())


def version_below(path: str, b: int) -> int | None:
    """The newest snapshot version strictly below batch ``b`` (the
    replay-pinned input of batch ``b``), or None."""
    return max((v for v in version_dirs(path) if v < b), default=None)


def current_version(path: str) -> int:
    """The version the ``_CURRENT`` pointer under ``path`` names."""
    with open(os.path.join(path, "_CURRENT")) as fh:
        return int(fh.read().strip())


def write_version(df: DataFrame, path: str, version: int) -> None:
    """Write ``df`` as snapshot ``{path}/v=<version>`` (a replay
    rewrites it), then atomically re-point ``{path}/_CURRENT`` at it."""
    df.write.mode("overwrite").parquet(f"{path}/v={version}")
    tmp = os.path.join(path, "_CURRENT.tmp")
    with open(tmp, "w") as fh:
        fh.write(str(version))
    os.replace(tmp, os.path.join(path, "_CURRENT"))
