"""Streaming SCD2 dimension maintenance — CDC-style update batches
folded into a slowly-changing dimension via ``foreachBatch`` over the
batch kernel :func:`nyc_opendata_etl_spark.operators.scd.scd2_merge`.

An SCD2 merge rewrites the whole dimension (close + open + pass-through
rows), so the partition-overwrite idempotency of streaming/ingest.py
does not apply: replay safety comes from VERSIONED SNAPSHOTS instead —

- batch ``b`` reads as its input the newest committed snapshot with
  version STRICTLY BELOW ``b`` (never a pointer: if the original
  attempt already wrote ``v=b`` and advanced the pointer before
  failing, a pointer-following replay would merge the batch into its
  own output — double-applied updates);
- it writes the merged dimension to ``{path}/v=b`` (plain overwrite —
  idempotent, the replay rewrites the same version with identical
  content since its input is pinned by construction);
- last, it atomically re-points ``{path}/_CURRENT`` (tmp +
  ``os.replace``) — a reader convenience only, never an input.

This is the snapshot-chain discipline a log-structured table format
(Delta/Iceberg MERGE) gives for free, built on plain parquet; at
production scale you'd swap the sink for such a format and keep the
merge kernel. Versions accumulate one full dimension copy per batch —
dimensions are the SMALL side of a star by design (SURVEY §2), so a
snapshot per CDC batch is bounded; :func:`prune_scd2_versions` retires
history below a retention count during a maintenance window (stream
stopped, checkpoint committed — pruning below an uncommitted batch's
input version would break its replay).

As everywhere in the streaming layer: the exactly-once contract rides
on Structured Streaming's offset log pinning batch composition, so
production callers MUST pass a durable ``checkpoint_location``.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession

from nyc_opendata_etl_spark.streaming.drain import drain

SEED_VERSION = -1


def _version_dirs(path: str) -> list[int]:
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return []
    out = []
    for n in names:
        if n.startswith("v="):
            try:
                out.append(int(n[2:]))
            except ValueError:
                continue
    return sorted(out)


def _write_pointer(path: str, version: int) -> None:
    tmp = os.path.join(path, "_CURRENT.tmp")
    with open(tmp, "w") as fh:
        fh.write(str(version))
    os.replace(tmp, os.path.join(path, "_CURRENT"))


def init_scd2_dim(dim: DataFrame, path: str) -> None:
    """Seed the versioned dimension: the initial SCD2 table (columns
    ``natural_key + tracked + effective_from, effective_to,
    is_current``) becomes version -1, below every real batch id."""
    os.makedirs(path, exist_ok=True)
    dim.write.mode("overwrite").parquet(f"{path}/v={SEED_VERSION}")
    _write_pointer(path, SEED_VERSION)


def read_scd2_dim(spark: SparkSession, path: str) -> DataFrame:
    """The dimension as of the newest committed batch (pointer read —
    the reader-side convenience the merge itself never uses)."""
    with open(os.path.join(path, "_CURRENT")) as fh:
        v = int(fh.read().strip())
    return spark.read.parquet(f"{path}/v={v}")


def scd2_upsert_batch(
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    natural_key: list[str],
    tracked: list[str],
    eff_date_col: str = "eff_date",
) -> None:
    """One CDC micro-batch: merge into the newest snapshot strictly
    below ``batch_id`` (replay-pinned input), write ``v=batch_id``,
    re-point. Exposed at module level so tests drive replay directly;
    the streaming wrapper passes it to ``foreachBatch``. A batch may
    carry several updates for one key — scd2_merge expects one row per
    key per merge, so the LATEST row per key (max eff date, then
    arbitrary-but-deterministic max of the tracked tuple on exact
    ties) is applied; intermediate same-batch versions are below the
    CDC feed's resolution, the standard compaction every CDC consumer
    applies.

    The snapshot is read with a declared schema, the batch's key and
    tracked types plus the three SCD2 columns, so a batch runs no
    schema-inference job. A seed written with a narrower integer type
    (an ``int`` key under a ``long`` CDC feed) reads widened."""
    from pyspark.sql import functions as F

    from nyc_opendata_etl_spark.operators.scd import scd2_merge

    spark = batch_df.sparkSession
    below = [v for v in _version_dirs(path) if v < batch_id]
    if not below:
        raise ValueError(
            f"scd2_upsert_batch: no snapshot below batch {batch_id} at "
            f"{path}; call init_scd2_dim first (seed version {SEED_VERSION})"
        )
    snapshot = (
        batch_df.select(*natural_key, *tracked).schema
        .add("effective_from", "date").add("effective_to", "date")
        .add("is_current", "boolean")
    )
    dim = spark.read.schema(snapshot).parquet(f"{path}/v={max(below)}")
    latest = batch_df.groupBy(*natural_key).agg(
        F.max(
            F.struct(F.col(eff_date_col).alias("__eff__"), *[F.col(t) for t in tracked])
        ).alias("__u__")
    )
    compacted = latest.select(
        *natural_key,
        *[F.col(f"__u__.{t}").alias(t) for t in tracked],
        F.col("__u__.__eff__").alias(eff_date_col),
    )
    merged = scd2_merge(
        dim, compacted, natural_key=natural_key, tracked=tracked,
        eff_date_col=eff_date_col,
    )
    merged.write.mode("overwrite").parquet(f"{path}/v={batch_id}")
    _write_pointer(path, batch_id)


def stream_scd2_upserts(
    updates_stream: DataFrame,
    path: str,
    natural_key: list[str],
    tracked: list[str],
    eff_date_col: str = "eff_date",
    query_name: str = "scd2_upserts",
    checkpoint_location: str | None = None,
) -> None:
    """Drain a CDC update stream into the versioned SCD2 dimension (see
    :func:`~nyc_opendata_etl_spark.streaming.drain.drain`). See the
    module docstring for the replay contract."""
    sink = functools.partial(
        scd2_upsert_batch, path=path, natural_key=natural_key,
        tracked=tracked, eff_date_col=eff_date_col,
    )
    drain(updates_stream, sink, query_name, checkpoint_location)


def prune_scd2_versions(path: str, keep_last: int = 2) -> list[int]:
    """Retire snapshot history: delete all but the newest ``keep_last``
    versions (always keeping the pointer's target). Run only in a
    maintenance window — stream stopped, checkpoint committed — because
    a pending batch replays against the newest version BELOW it, which
    pruning could remove. Returns the deleted version ids."""
    import shutil

    with open(os.path.join(path, "_CURRENT")) as fh:
        current = int(fh.read().strip())
    versions = _version_dirs(path)
    keep = set(versions[-keep_last:]) | {current}
    dropped = [v for v in versions if v not in keep]
    for v in dropped:
        shutil.rmtree(os.path.join(path, f"v={v}"))
    return dropped
