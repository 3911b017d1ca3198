"""Exactly-once STREAMING near-dup cluster-map maintenance (r15,
staged for r16 registration) — the streaming × clustering composition
completing the streaming index-maintenance family: BM25 postings
(streaming/index_ingest.py), IVF-PQ codes (streaming/ann_ingest.py),
and now the cluster map itself.

Unlike those two, no batch-vs-streaming layout split is needed here:
the r15 ADVICE rework made the BATCH updater
(:func:`nyc_opendata_etl_spark.operators.cluster_index.
update_dup_cluster_index`) replay-idempotent by construction — every
read comes from partitions/versions strictly below the batch id and
every write overwrites only the batch's own partitions/version — so
``foreachBatch`` can drive it directly with Structured Streaming's
epoch id as the batch id. A replayed micro-batch (same offsets per the
checkpoint's offset log) recomputes byte-identical content from
byte-identical below-batch state and rewrites itself; the defect class
the other two modules exist to avoid (append-mode double-application
under replay) is absent by design, and the double-application defect
THIS operator had before the rework (append logs written before the
clusters swap) is pinned away in tests/test_round14_ops.py.

Requirements inherited from the batch updater's contract:
- micro-batches carry NEW doc ids only (the ingest-dedup stream in
  streaming/ingest.py is the upstream that guarantees this in a real
  deployment; the staged drain partitions the corpus by id range);
- epoch ids are strictly increasing (Structured Streaming guarantees
  this per checkpoint);
- the artifact was seeded by ``build_dup_cluster_index`` (batch −1).

As everywhere in the streaming layer: the exactly-once contract rides
on the offset log pinning batch composition, so production callers
MUST pass a durable ``checkpoint_location`` (raise-enforced, ADVICE
r14 family-wide).

Scale shape: per micro-batch cost is the batch updater's — O(batch)
canonicalize/shingle, staged-prefix probes, CC on the contracted
delta graph, and a clusters-snapshot rewrite; the indexed corpus is
never rescanned. Snapshot growth is bounded by
:func:`nyc_opendata_etl_spark.operators.cluster_index.
compact_dup_cluster_index` during a maintenance window.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame

from nyc_opendata_etl_spark.streaming.drain import drain


def cluster_ingest_batch(batch_df: DataFrame, batch_id: int, index_path: str,
                         text_col: str = "text", id_col: str = "doc_id") -> None:
    """One micro-batch: fold the batch into the staged cluster map.
    Exposed at module level so tests drive replay directly; the
    streaming wrapper passes it to ``foreachBatch``."""
    from nyc_opendata_etl_spark.operators.cluster_index import (
        update_dup_cluster_index,
    )

    update_dup_cluster_index(
        batch_df.sparkSession,
        batch_df,
        index_path,
        batch_id=int(batch_id),
        text_col=text_col,
        id_col=id_col,
    )


def stream_cluster_ingest(
    docs_stream: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_name: str = "cluster_ingest",
    checkpoint_location: str | None = None,
) -> None:
    """Drain a document stream into the incremental cluster map (see
    :func:`~nyc_opendata_etl_spark.streaming.drain.drain`). See the
    module docstring for the exactly-once contract."""
    sink = functools.partial(
        cluster_ingest_batch, index_path=index_path, text_col=text_col,
        id_col=id_col,
    )
    drain(docs_stream, sink, query_name, checkpoint_location)
