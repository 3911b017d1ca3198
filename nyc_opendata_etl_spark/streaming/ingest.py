"""Streaming corpus ingestion with cross-batch content dedup — the
composition of the streaming axis (foreachBatch micro-batches) with the
staged-index axis (the refcounted fingerprint log of operators/dedup).

The pipeline an LLM-corpus ingest actually runs: documents arrive in
micro-batches; each batch (1) collapses its OWN byte-identical canons
to the min-id row, (2) probes the accumulated fingerprint index so a
canon accepted by ANY earlier batch is rejected, (3) appends the
survivors to the corpus sink, and (4) records the survivors' canons in
the index — so the accepted corpus never contains two docs with the
same canonical text, across the entire stream's lifetime.

Exactly-once without a transaction log: the corpus sink and the index
are both batch logs of ``sources/batch_log.py``, partitioned by ``b`` =
the micro-batch id, and the batch rewrites its own partition of each
(that module states the replay discipline); the index is a versioned
root, resolved once per batch. The probe EXCLUDES rows
with ``b == current_batch_id``, so a replayed batch sees exactly the
pre-batch index and recomputes the identical survivor set. Without the
exclusion, a replay would find its own canons already indexed, emit
nothing, and overwrite its corpus partition with EMPTY: silent data
loss on the exact failure the checkpoint exists to survive. The filter
is ``!=``, not ``<``: a fresh checkpoint over an existing log restarts
the batch ids, and the partitions an earlier run wrote above the
restarted id must still reject their canons.

Takedowns (:func:`~nyc_opendata_etl_spark.operators.dedup.delete_from_fingerprint_index`)
and compaction
(:func:`~nyc_opendata_etl_spark.operators.index_maintenance.compact_fingerprint_index`)
are the fingerprint index's own: the index layout and its probe
(:func:`~nyc_opendata_etl_spark.operators.dedup.live_canons`) live in
operators/dedup, its reserved partitions (``b = -1`` compacted,
``b = -2`` takedowns — both forever distinct from real batch ids ≥ 0)
in sources/batch_log. A fully withdrawn canon is re-ingestable at the next
batch; compact with the stream stopped and its checkpoint committed.

Scale shape per batch: fingerprinting and the within-batch collapse
are one map-side-combined aggregate over the BATCH; the probe
broadcasts the batch's distinct hashes into a left-semi over the index
scan + a partial SUM (the live_canons plan — no index shuffle, state
bounded by the batch); both writes touch one partition.
Cost is O(batch + index-scan of two 8-byte columns), never O(corpus
text).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nyc_opendata_etl_spark.streaming.drain import drain

#: Target input bytes per task for the pre-kernel batch spread ONCE the
#: session's parallelism is filled: regex canonicalization/tokenization
#: is CPU-bound, so tasks should be far smaller than the scan-bound
#: 128 MB file-split default.
_SPREAD_TARGET_BYTES = 8 << 20

#: Smallest (compressed) input slice worth a task of its own: below
#: this, task-scheduling overhead exceeds the kernel work, so tiny
#: batches stay narrow instead of being shuffled across every core.
_SPREAD_MIN_TASK_BYTES = 128 << 10


def spread_batch(
    batch_df: DataFrame, target_bytes: int = _SPREAD_TARGET_BYTES
) -> DataFrame:
    """Spread a file-source micro-batch for CPU-bound text work,
    SIZE-ADAPTIVELY: a file-source batch is partitioned by input bytes
    (one ~monthly file → 1-2 partitions at the 128 MB default), which
    left the regex+hash kernels running 2-wide on a 32-core box — but
    the old unconditional ``repartition(defaultParallelism)`` was just
    as wrong in the other direction, paying a full shuffle of the raw
    text plus 32-task stages for a kilobyte-scale batch (and 32 would
    be far too narrow on a large cluster).

    Two-regime width (r17 — replaces r16's pure bytes/8 MB rule after
    the 100× A/B below): FILL the session's parallelism as soon as the
    batch offers every core at least ``_SPREAD_MIN_TASK_BYTES`` of
    compressed input — these kernels expand each compressed byte into
    10-50× of regex/tokenize work, so per-byte targets tuned for scans
    starve a CPU-bound stage (the bytes/8 MB rule left the 100× BM25
    tokenize 2-wide: 41.8 s vs 26.4-27.7 s at full width) — and past
    that floor grow by ``target_bytes`` per task, capped at 4× session
    parallelism. Kilobyte-scale batches stay at the source's own width
    and skip the shuffle entirely (the r16 win this rule keeps: at
    sf0.1 the 2-file batch reads ~140 KB and is left untouched)."""
    import os

    spark = batch_df.sparkSession
    par = spark.sparkContext.defaultParallelism
    try:
        # Batch size from the optimizer's own statistics — the ONLY
        # byte source that works inside ``foreachBatch``: a micro-batch
        # DataFrame reports inputFiles() as EMPTY (its scan is an
        # internal batch relation, not a file index), which made r16's
        # first spread rule (sum of inputFiles sizes, nbytes=0 → width
        # 1) a silent no-op on every streaming kernel it was written
        # for — found by the r17 job profile (the 100× tokenize drain
        # still ran 2-wide). For a file-source batch sizeInBytes is
        # exactly the batch files' on-disk bytes.
        nbytes = int(
            batch_df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        if nbytes <= 0 or nbytes >= (1 << 62):  # unknown-stats sentinel
            nbytes = 0
            for p in batch_df.inputFiles():
                if p.startswith("file:"):
                    p = p[len("file:"):]
                nbytes += os.path.getsize(p)
            if nbytes <= 0:
                raise ValueError("no size statistics for batch")
        width = _spread_width(nbytes, par, target_bytes)
    except Exception:  # no stats and no file listing — old behavior
        width = par
    if width <= batch_df.rdd.getNumPartitions():
        return batch_df
    return batch_df.repartition(width)


def _spread_width(nbytes: int, par: int, target_bytes: int) -> int:
    """The fill-then-grow width (see :func:`spread_batch`): fill ``par``
    once every task gets ≥ ``_SPREAD_MIN_TASK_BYTES``, then grow at
    ``target_bytes`` per task, capped at ``4 * par``. Pure so the rule
    is unit-testable apart from the Spark plumbing."""
    import math

    fill = min(par, math.ceil(nbytes / _SPREAD_MIN_TASK_BYTES))
    return min(max(math.ceil(nbytes / target_bytes), fill, 1), 4 * par)


def dedup_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """One micro-batch of the dedup ingest (module docstring). Exposed
    at module level so tests can drive replay semantics directly; the
    streaming wrapper passes it to ``foreachBatch``."""
    from nyc_opendata_etl_spark.operators.dedup import (
        FINGERPRINT_INDEX_SCHEMA,
        live_canons,
    )
    from nyc_opendata_etl_spark.operators.text import fingerprint
    from nyc_opendata_etl_spark.sources.batch_log import current_dir, read_log, write_batch

    spark = batch_df.sparkSession
    cols = batch_df.columns
    # Spread the batch BEFORE the expensive canonicalization/hash
    # expressions (size-adaptive — see spread_batch). With the
    # checkpoint below, the spread+checkpoint pair took the 100×
    # replica's 8-batch drain from 277 s → 24.6 s (identical output) —
    # both found by the 100× sweep, not the unit tests:
    # batch-size-dependent, invisible at test scale.
    batch_df = spread_batch(batch_df)
    keyed = batch_df.withColumn("__h__", fingerprint(text_col))
    # within-batch collapse: min-id row per canon (min_by is value-
    # deterministic on the id; the struct carries the full row through)
    # localCheckpoint: collapsed is BOUNDED (one row per distinct canon
    # in the batch) but its lineage is the expensive canon+md5 scan of
    # the raw batch, and three consumers branch from it (the broadcast
    # probe-hash build, the corpus-sink write, the index write) — each
    # re-executed the scan uncached: 28 s/batch at the 100× replica
    # where the one-scan form costs ~3 s (same lesson as the
    # dedup_clusters_collapsed grp/mem caches).
    collapsed = (
        keyed.groupBy("__h__")
        .agg(F.min_by(F.struct(*cols), F.col(id_col)).alias("__r__"))
        .select("__h__", "__r__.*")
        .localCheckpoint()
    )
    index = current_dir(index_path)
    idx = read_log(spark, index, FINGERPRINT_INDEX_SCHEMA)
    if idx is None:
        fresh = collapsed
    else:
        # collapsed is one row per __h__ by construction (the groupBy
        # above), so the hash set needs no distinct — a .distinct()
        # here added a two-stage aggregate before every batch's
        # broadcast build. The b != batch_id filter is the replay-
        # safety exclusion (module docstring).
        live = live_canons(
            idx.filter(F.col("b") != batch_id),
            collapsed.select(F.col("__h__").alias("h")),
        ).select(F.col("h").alias("__h__"))
        fresh = collapsed.join(F.broadcast(live), "__h__", "left_anti")
    # both writes idempotent by batch partition (ordering between them
    # then doesn't matter — a replay rewrites whichever half landed).
    # persist: fresh has TWO consumers (corpus sink, index delta) and
    # its lineage above the checkpointed `collapsed` is the whole index
    # probe — scan, semi-join, refcount fold, two broadcast builds —
    # which the second write re-ran in full every batch (r17 job
    # profile: ~10 jobs/batch, about half of them the duplicated probe
    # pipeline). The cache is bounded by the batch's distinct canons
    # and dropped before the batch commits.
    if fresh is not collapsed:
        fresh = fresh.persist()
    try:
        write_batch(fresh.select(*cols), out_path, batch_id, overwrite="dynamic")
        write_batch(
            fresh.groupBy(F.col("__h__").alias("h")).agg(
                F.count(F.lit(1)).cast("long").alias("cnt")
            ),
            index,
            batch_id,
            overwrite="dynamic",
        )
    finally:
        if fresh is not collapsed:
            fresh.unpersist()


def stream_dedup_ingest(
    docs_stream: DataFrame,
    index_path: str,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_name: str = "dedup_ingest",
    checkpoint_location: str | None = None,
) -> None:
    """Drain a document stream through the content-dedup ingest (see
    :func:`~nyc_opendata_etl_spark.streaming.drain.drain`). See the
    module docstring for the exactly-once and takedown contracts."""
    sink = functools.partial(
        dedup_ingest_batch, index_path=index_path, out_path=out_path,
        text_col=text_col, id_col=id_col,
    )
    drain(docs_stream, sink, query_name, checkpoint_location)
