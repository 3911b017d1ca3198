"""Streaming posting-index maintenance with EXACTLY-ONCE semantics —
the composition of the streaming axis with the retrieval-index axis:
documents arrive in micro-batches and the BM25 index stays queryable
and correct across failures and replays.

``update_text_index`` (the batch append path) is plain append-mode: a
replayed micro-batch would double-append postings and double-merge
vocab/stats. The streaming layout makes every write idempotent by the
micro-batch id instead, the ``streaming/ingest`` discipline applied to
an index:

- ``postings/b=<batch>/``: each batch's (term, id, tf, dl) rows,
  term-sorted WITHIN the batch partition (footer pruning holds per
  batch, as with update_text_index's appended files), written with
  dynamic partition overwrite — a replay rewrites exactly its own
  partition with identical content (batch composition is pinned by the
  checkpoint offset log).
- ``stats/b=<batch>/``: one (n_docs, sum_dl) row per batch, same
  overwrite discipline.
- NO vocab table: the probe derives each query term's document
  frequency from the pruned postings it already reads (df(term) =
  row count of that term's postings — exact, since postings carry one
  row per (term, doc)), and folds the per-batch stats rows (one tiny
  scan) for the corpus totals. Nothing merged at write time means
  nothing to double-merge on replay.

Scores from :func:`bm25_topk_delta` are bit-identical to
``bm25_topk_indexed`` over a from-scratch ``build_text_index`` of the
same corpus (same exact integers, same 9-dp DECIMAL(28,12) folds) —
pinned in tests and by the stream_index_ingest differential registration.

Batch doc-id disjointness is the stream's contract (an ingest assigns
fresh ids); as everywhere in the streaming layer, exactly-once rides on
Structured Streaming's offset log, so production callers MUST pass a
durable ``checkpoint_location``. Compaction of many small batch
partitions into update_text_index's layout is a maintenance-window job
(the compact_fingerprint_index pattern); probes are correct either way.

Scale shape per batch: tokenize/aggregate ONLY the batch (one
map-side-combined explode+count), write two partitions. Probe cost:
pruned term postings + a |batches|-row stats fold — at 100 TB the
stats fold stays trivial while postings pruning does the work.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_opendata_etl_spark.streaming.drain import drain


def index_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """One micro-batch of the streaming index build (module docstring).
    Exposed at module level so tests drive replay semantics directly;
    the streaming wrapper passes it to ``foreachBatch``."""
    from nyc_opendata_etl_spark.operators.text import tokens
    from nyc_opendata_etl_spark.streaming.ingest import spread_batch

    # spread the file-source batch before the expensive tokenize
    # (the dedup_ingest_batch lesson: input-bytes partitioning leaves
    # a monthly file 1-2 partitions wide on a 32-core box) —
    # SIZE-ADAPTIVELY (r17): the old fixed
    # repartition(defaultParallelism) shuffled every kilobyte-scale
    # micro-batch into 32 partitions, inflating each downstream stage
    # to 32 tasks (the profiled drain ran 1189 tasks where ~100 carry
    # data); spread_batch's fill-then-grow rule keeps full width for
    # the CPU-bound 100× batches (A/B: 26.4-27.7 s at full width vs
    # 41.8-44.6 s starved at 2-14 wide) while kilobyte batches skip
    # the shuffle entirely.
    batch_df = spread_batch(batch_df)
    toks = batch_df.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    # dl covers EVERY batch doc — zero-token and NULL-text docs carry
    # no postings but DO count toward (n, sum_dl), exactly as in
    # build_text_index / the BM25 oracles (deriving stats from
    # postings would silently drop them and shift every idf/avgdl).
    # localCheckpoint: dl is one small row per doc with the tokenize
    # scan as lineage and two consumers (postings join, stats agg).
    dl = batch_df.select(
        F.col(id_col),
        F.size(tokens(F.lower(F.col(text_col)))).cast("long").alias("dl"),
    ).localCheckpoint()
    postings = tf.join(dl, id_col)
    # HASH-cluster the postings by term (r17, was repartitionByRange):
    # a range exchange runs a separate SAMPLING job that re-executes
    # the whole tokenize+aggregate+join subtree once per batch before
    # the real shuffle does it again. Hash keeps the property the
    # probe relies on — every term's postings land in exactly one
    # file, and sortWithinPartitions keeps each file term-sorted so
    # row-group min/max pruning still skips non-matching stripes; only
    # whole-FILE footer pruning weakens (each file now spans the
    # term alphabet), a bounded 4-footer read per batch partition at
    # probe time vs. a full per-batch recompute at write time.
    (
        postings.repartition(4, "term")
        .sortWithinPartitions("term", id_col)
        .withColumn("b", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("b")
        .parquet(f"{index_path}/postings")
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("sum_dl"),
    ).withColumn("b", F.lit(batch_id))
    (
        stats.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("b")
        .parquet(f"{index_path}/stats")
    )


def stream_index_ingest(
    docs_stream: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_name: str = "index_ingest",
    checkpoint_location: str | None = None,
) -> None:
    """Drain a document stream into the batch-partitioned index (see
    :func:`~nyc_opendata_etl_spark.streaming.drain.drain`). See the
    module docstring for the exactly-once contract."""
    sink = functools.partial(
        index_ingest_batch, index_path=index_path, text_col=text_col,
        id_col=id_col,
    )
    drain(docs_stream, sink, query_name, checkpoint_location)


def bm25_topk_delta(
    spark: SparkSession,
    index_path: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 top-k over the batch-partitioned streaming index — score-
    identical to ``bm25_topk_indexed`` over a from-scratch build of the
    same corpus. df(term) comes from the pruned postings themselves
    (one row per (term, doc) — no vocab relation exists to go stale);
    corpus totals fold the per-batch stats rows. Same 9-dp
    DECIMAL(28,12) contribution folds as every BM25 path."""
    post = spark.read.parquet(f"{index_path}/postings").filter(
        F.col("term").isin(list(query_terms))
    )
    stats = F.broadcast(
        spark.read.parquet(f"{index_path}/stats").agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sum_dl").cast("long").alias("sum_dl"),
        )
    )
    dfq = F.broadcast(
        post.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n")
    idf = F.log(1 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    denom = F.col("tf") + k1 * (1 - b + b * F.col("dl") / avgdl)
    contrib = F.round(idf * F.col("tf") * (k1 + 1) / denom, 9).cast(
        "decimal(28,12)"
    )
    scored = (
        post.join(dfq, "term")
        .crossJoin(stats)
        .select(F.col(id_col), contrib.alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("double").alias("bm25"),
            F.count(F.lit(1)).cast("long").alias("n_hit_terms"),
        )
    )
    return scored.orderBy(F.col("bm25").desc(), id_col).limit(k)
