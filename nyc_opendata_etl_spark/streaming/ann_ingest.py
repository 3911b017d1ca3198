"""Exactly-once STREAMING IVF-PQ index maintenance (r14, staged for
r15 registration) — the streaming twin of
``operators/similarity.update_ivfpq_index``, closing the streaming ×
similarity family gap the way ``streaming/index_ingest.py`` closed
streaming × retrieval.

Why the batch updater can't just run in ``foreachBatch``:
``update_ivfpq_index`` APPENDS a batch's (id, m, code, cid) rows into
the cell-partitioned ``codes/`` layout — correct for at-most-once
driving, but a REPLAYED micro-batch (sink crash after write, before
commit) would append its rows a second time, and a duplicated code row
double-counts nothing visible (ADC scores each (id, m) once per row —
the groupBy(id) sum would silently DOUBLE a replayed candidate's
distance). The streaming layout therefore partitions codes by
cid and then ``b`` = the micro-batch id, a batch log of
``sources/batch_log.py`` in the committed version of the index root
(that module states the replay discipline):
batch ``b`` owns exactly the ``cid=*/b=b`` directories, so a replay
rewrites identical content (routing and encoding are deterministic
given the persisted quantizers) instead of appending.

The probe needs no change: ``similarity.ivfpq_topk_indexed`` reads
``codes/`` with a ``cid`` filter — partition pruning applies to the
top ``cid=`` level, as in the build's and compaction's layout, and the
extra ``b`` column rides along unused. Quantizers
(centroids/codebook/params) are the persisted build's, never touched
by the stream — the FAISS add()-without-retraining contract, same as
the batch updater.

Scale shape per micro-batch: two bounded broadcasts (n_centroids rows,
m·n_codes rows) against ONLY the batch, two map-side-combined
aggregates, one dynamic-overwrite write — independent of the index's
accumulated size.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_opendata_etl_spark.sources.batch_log import current_dir, write_batch
from nyc_opendata_etl_spark.streaming.drain import drain

#: The codes log's on-disk relation (``batch_log.read_log``).
CODES_SCHEMA = "id long, m int, code long, cid int, b long"


def read_ivfpq_quantizers(spark: SparkSession, index_path: str) -> tuple:
    """(params_row, centroids_df, codebook_df) — the index's persisted,
    stream-immutable quantizers, read once per drain."""
    index = current_dir(index_path)
    return (
        spark.read.parquet(f"{index}/params").first(),
        spark.read.parquet(f"{index}/centroids"),
        spark.read.parquet(f"{index}/codebook"),
    )


def ann_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantizers: tuple | None = None,
) -> None:
    """One micro-batch: route + encode against the index's PERSISTED
    quantizers and dynamic-overwrite this batch's own partitions.
    Exposed at module level so tests drive replay semantics directly;
    the streaming wrapper passes it to ``foreachBatch``. Zero-norm
    vectors drop at assignment (the NULL-best-sim rule), exactly as in
    the batch updater.

    ``quantizers``: optional pre-read (params_row, centroids_df,
    codebook_df) — the stream wrapper reads them ONCE per drain (they
    are immutable for the stream's lifetime, the FAISS
    add()-without-retraining contract) instead of paying a params
    ``first()`` job plus two footer reads per micro-batch (r17,
    VERDICT r16 item 1: per-batch job-count overhead)."""
    from nyc_opendata_etl_spark.operators import similarity

    spark = batch_df.sparkSession
    if quantizers is None:
        quantizers = read_ivfpq_quantizers(spark, index_path)
    p, cents, codebook = quantizers
    # spread the file-source batch before the vector math (the
    # index_ingest lesson: input-bytes partitioning leaves a file
    # 1-2 partitions wide on a 32-core box), size-adaptively so a
    # small batch skips the raw shuffle
    from nyc_opendata_etl_spark.streaming.ingest import spread_batch

    batch_df = spread_batch(batch_df)
    assigned = similarity._ivf_assign(
        batch_df, p["n_centroids"], id_col, vec_col, cents=cents
    )
    subs = similarity._sub_rows(
        batch_df, p["m"], p["d_sub"], vec_col, F.col(id_col), "id", "sub"
    )
    codes = similarity._pq_encode_against(subs, codebook)
    write_batch(
        codes.join(assigned, "id").repartition("cid"),
        f"{current_dir(index_path)}/codes",
        batch_id,
        overwrite="dynamic",
        partition_by=("cid",),
    )


def stream_ivfpq_ingest(
    emb_stream: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_name: str = "ann_ingest",
    checkpoint_location: str | None = None,
) -> None:
    """Drain an embedding stream into the batch-partitioned IVF-PQ
    codes layout through
    :func:`~nyc_opendata_etl_spark.streaming.drain.drain`. See the
    module docstring for the exactly-once contract."""
    # quantizers are immutable for the stream's lifetime: read them at
    # the first batch (after the checkpoint guard) and reuse them for
    # the rest of the drain — saves a params first() job + two footer
    # reads per micro-batch
    quantizers = functools.cache(
        lambda: read_ivfpq_quantizers(emb_stream.sparkSession, index_path)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        ann_ingest_batch(
            batch_df, batch_id, index_path, id_col=id_col, vec_col=vec_col,
            quantizers=quantizers(),
        )

    drain(emb_stream, sink, query_name, checkpoint_location)
