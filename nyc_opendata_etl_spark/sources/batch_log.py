"""The on-disk formats of every replay-safe stateful writer, and the one
way an artifact is replaced.

**Batch log.** :func:`write_batch` writes rows under partition ``b`` =
the micro-batch id (builds, compactions and takedowns use the reserved
negative ids :data:`COMPACTED_B` and :data:`TAKEDOWN_B`). Structured
Streaming's offset log pins a batch's rows across restarts, so a batch
that replaces exactly its own ``b`` partitions (``overwrite="dynamic"``)
rewrites, never re-appends, on replay; a batch that also reads the log
leaves its own ``b`` out of the read, so a replay sees the pre-batch
state whatever a crashed attempt wrote. Callers must pass a durable
``checkpoint_location``
(:func:`~nyc_opendata_etl_spark.streaming.drain.drain` enforces it).
:func:`read_log` reads with the family's declared schema: no
schema-inference job, and a log without part files reads as empty.

**Versioned snapshots.** A writer that rewrites the whole relation per
batch reads the newest version strictly below its batch
(:func:`version_below`), never the pointer (a replay following it would
merge the batch into its own output), and :func:`write_version` writes
``v=<batch>`` then re-points ``_CURRENT`` (temp file + ``os.replace``).

**Versioned roots.** Every staged index and compacted sink is a root of
``v=<n>/`` directories and a ``_CURRENT`` pointer. Readers and in-place
appenders resolve it once with :func:`current_dir` (no pointer means
``v=0``, so a stream can start a log from nothing); a build, compaction
or retrain replaces the whole root through :func:`commit`. A reader
sees the old root or the new one, never relations of both. Local file
system only: a local read of a remote pointer would find none, so the
resolver rejects other URIs. Nothing else in the package moves,
replaces or removes a committed directory.
"""

from __future__ import annotations

import os
import re
import shutil
from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Reserved batch ids of a log; real micro-batch ids are >= 0.
COMPACTED_B = -1
TAKEDOWN_B = -2

_SCHEME = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*://")


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


def write_folded(df: DataFrame, path: str, partition_col: str) -> None:
    """Write ``df`` partitioned by ``partition_col`` (a compaction's
    rewrite). Rows of a batch log (a ``b`` column) fold into
    :data:`COMPACTED_B`, so batches written after the compaction keep
    the ``partition_col=/b=`` layout readers discover."""
    if "b" in df.columns:
        write_batch(df.drop("b"), path, COMPACTED_B, partition_by=(partition_col,))
    else:
        df.write.partitionBy(partition_col).parquet(path)


def read_log(spark: SparkSession, path: str, schema) -> DataFrame | None:
    """The log (or snapshot) at ``path`` read with ``schema``, or None
    if ``path`` does not exist (a stream's first batch). Any other
    failure raises: reading a transient error as "empty" would admit
    rows the log already holds."""
    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e):
            raise
    return None


def must_read_log(spark: SparkSession, path: str, schema) -> DataFrame:
    """:func:`read_log` of a relation its artifact always has: a missing
    ``path`` raises."""
    df = read_log(spark, path, schema)
    if df is None:
        raise FileNotFoundError(f"no log at {path}")
    return df


def _local(path: str) -> str:
    """``path`` on the local file system; any other URI raises."""
    if _SCHEME.match(path) and not path.startswith("file://"):
        raise ValueError(f"{path!r}: versioned artifacts are local-only")
    return path.removeprefix("file://")


def version_dirs(path: str) -> list[int]:
    """The versions (``v=<n>`` directories) under ``path``, ascending;
    empty if ``path`` does not exist."""
    try:
        names = os.listdir(_local(path))
    except FileNotFoundError:
        return []
    tails = (n[2:] for n in names if n.startswith("v="))
    return sorted(int(t) for t in tails if t.lstrip("-").isdigit())


def version_below(path: str, b: int) -> int | None:
    """The newest snapshot version strictly below batch ``b`` (the
    replay-pinned input of batch ``b``), or None."""
    return max((v for v in version_dirs(path) if v < b), default=None)


def current_version(path: str) -> int:
    """The version the ``_CURRENT`` pointer under ``path`` names, or 0
    when there is no pointer."""
    try:
        with open(os.path.join(_local(path), "_CURRENT")) as fh:
            return int(fh.read().strip())
    except FileNotFoundError:
        return 0


def current_dir(root: str) -> str:
    """The directory of the committed version of ``root`` (``v=0`` for
    a root nothing has committed yet)."""
    return f"{root.rstrip('/')}/v={current_version(root)}"


def _point(path: str, version: int) -> None:
    """Atomically re-point ``{path}/_CURRENT`` at ``version``."""
    local = _local(path)
    tmp = os.path.join(local, "_CURRENT.tmp")
    with open(tmp, "w") as fh:
        fh.write(str(version))
    os.replace(tmp, os.path.join(local, "_CURRENT"))


def write_version(df: DataFrame, path: str, version: int) -> None:
    """Write ``df`` as snapshot ``{path}/v=<version>`` (a replay
    rewrites it), then atomically re-point ``{path}/_CURRENT`` at it."""
    df.write.mode("overwrite").parquet(f"{path}/v={version}")
    _point(path, version)


def prune_versions(path: str, keep_last: int) -> list[int]:
    """Delete all but the newest ``keep_last`` versions under ``path``,
    always keeping the pointer's target; returns the deleted versions.
    For batch-id snapshots, run it only with the writer's stream
    stopped and its checkpoint committed: a pending batch replays
    against the newest version below it, which pruning could remove."""
    versions = version_dirs(path)
    keep = set(versions[-keep_last:]) | {current_version(path)}
    dropped = [v for v in versions if v not in keep]
    _remove(path, [f"v={v}" for v in dropped])
    return dropped


def _remove(path: str, names: list[str]) -> None:
    """Delete the entries ``names`` of the directory ``path``, in order."""
    for name in names:
        entry = os.path.join(_local(path), name)
        if os.path.isdir(entry):
            shutil.rmtree(entry)
        else:
            os.remove(entry)


def commit(
    root: str, write: Callable[[str], None], carry: tuple[str, ...] = ()
) -> None:
    """Replace the artifact at ``root`` as one unit: ``write(new_dir)``
    writes the next version, the ``carry`` relations are copied into it
    from the committed one, ``_CURRENT`` is re-pointed at it, and all
    else under ``root`` (other versions, the old artifact's markers) is
    pruned. Readers see the old version until the pointer moves."""
    cur = current_dir(root)
    n = max(version_dirs(root), default=0) + 1
    new = f"{root.rstrip('/')}/v={n}"
    write(new)
    for rel in carry:
        shutil.copytree(
            os.path.join(_local(cur), rel), os.path.join(_local(new), rel)
        )
    _point(root, n)
    kept = {f"v={n}", "_CURRENT"}
    _remove(root, sorted(set(os.listdir(_local(root))) - kept))
