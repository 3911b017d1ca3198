"""Streaming SCD2 dimension maintenance — CDC-style update batches
folded into a slowly-changing dimension via ``foreachBatch`` over the
batch kernel :func:`nyc_opendata_etl_spark.operators.scd.scd2_merge`.

An SCD2 merge rewrites the whole dimension (close + open + pass-through
rows), so replay safety comes from the VERSIONED SNAPSHOTS of
``sources/batch_log.py`` (that module states the discipline): batch
``b`` merges into the newest snapshot strictly below ``b``, writes
``{path}/v=b`` and re-points ``{path}/_CURRENT`` last, a reader
convenience that is never an input.

This is the snapshot-chain discipline a log-structured table format
(Delta/Iceberg MERGE) gives for free, built on plain parquet; at
production scale you'd swap the sink for such a format and keep the
merge kernel. Versions accumulate one full dimension copy per batch —
dimensions are the SMALL side of a star by design (SURVEY §2), so a
snapshot per CDC batch is bounded;
:func:`~nyc_opendata_etl_spark.sources.batch_log.prune_versions` retires
history below a retention count during a maintenance window (stream
stopped, checkpoint committed — pruning below an uncommitted batch's
input version would break its replay).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession

from nyc_opendata_etl_spark.sources.batch_log import (
    current_dir,
    must_read_log,
    version_below,
    write_version,
)
from nyc_opendata_etl_spark.streaming.drain import drain

SEED_VERSION = -1


def init_scd2_dim(dim: DataFrame, path: str) -> None:
    """Seed the versioned dimension: the initial SCD2 table (columns
    ``natural_key + tracked + effective_from, effective_to,
    is_current``) becomes version -1, below every real batch id."""
    write_version(dim, path, SEED_VERSION)


def read_scd2_dim(spark: SparkSession, path: str) -> DataFrame:
    """The dimension as of the newest committed batch (pointer read —
    the reader-side convenience the merge itself never uses)."""
    return spark.read.parquet(current_dir(path))


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
    below = version_below(path, batch_id)
    if below is None:
        raise ValueError(
            f"scd2_upsert_batch: no snapshot below batch {batch_id} at "
            f"{path}; call init_scd2_dim first (seed version {SEED_VERSION})"
        )
    snapshot = (
        batch_df.select(*natural_key, *tracked).schema
        .add("effective_from", "date").add("effective_to", "date")
        .add("is_current", "boolean")
    )
    dim = must_read_log(spark, f"{path}/v={below}", snapshot)
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
    write_version(merged, path, batch_id)


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

