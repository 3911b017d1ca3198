"""The one bounded ``foreachBatch`` drain every exactly-once streaming
writer runs through.

Each writer's replay safety rides on Structured Streaming's offset log
pinning batch composition across restarts, so the checkpoint is
required: a drain without one would silently downgrade replay to
at-most-once. A throwaway run passes a temporary directory instead.
``Trigger.AvailableNow`` makes the drain a bounded backfill (the
reference's monthly ``load_history`` loop); drop the trigger for a
continuous pipeline.

The checkpoint (offset, commit and source logs, and any state-store
deltas) is written through the Hadoop ``FileSystem`` API, a create and
a rename per file, which forks no process on local disk; the session
sets this (``session.get_spark``), so every drain inherits it. A replayed
batch's state-store delta cannot be renamed over the existing one, so
its temp files stay behind; the drain removes them once it stops.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame


def drain(
    stream: DataFrame,
    sink: Callable[[DataFrame, int], None],
    query_name: str,
    checkpoint_location: str | None,
) -> None:
    """Run ``sink(batch_df, batch_id)`` over every micro-batch available
    now, checkpointed at ``checkpoint_location``, and block until the
    stream is drained. Raises ``ValueError`` before touching the stream
    when no checkpoint is given."""
    if checkpoint_location is None:
        raise ValueError(
            f"{query_name}: the exactly-once/replay contract requires a "
            "durable checkpoint_location (the offset log pins batch "
            "composition across restarts)"
        )
    (
        stream.writeStream.foreachBatch(sink)
        .queryName(query_name)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_location)
        .start()
        .awaitTermination()
    )
    # the query has stopped, so no task is still writing a temp file
    for d, _, files in os.walk(os.path.join(checkpoint_location, "state")):
        for f in files:
            if f.endswith((".tmp", ".tmp.crc")):
                os.remove(os.path.join(d, f))
