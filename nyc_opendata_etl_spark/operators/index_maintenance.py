"""Delete + compaction for the staged retrieval/dedup artifacts — the
missing half of the index lifecycle.

The four staged indexes (text postings, content fingerprints, LSH
band buckets, IVF-PQ codes) all grow by APPEND (update_* functions,
O(new docs) each). Appends accumulate two kinds of debt the build
functions' docstrings have promised "periodic compaction" would
retire: small files / duplicate rows from repeated batches, and —
once documents can be withdrawn (takedowns, opt-outs, dedup-driven
removals) — rows for ids that must stop serving. These helpers
implement that maintenance pass:

- **Delete semantics**: ids are removed AT COMPACTION (the batch-
  lakehouse contract — probes between delete and compaction still see
  the rows, exactly like a parquet table awaiting a rewrite). This
  keeps every probe plan unchanged: no tombstone anti-join on the hot
  path; deletion cost is paid by the maintenance job, not by queries.
- **Derived relations recompute from the compacted base**: the text
  index's vocab (term→df) and stats (n, sum_dl) are re-derived from
  the surviving postings rather than patched — compaction is the
  point where approximate append-bookkeeping reconciles to exact.
- **Crash tolerance**: every pass commits the next version of the
  whole index root (``sources/batch_log.commit``), carrying unchanged
  relations over: a crash leaves readers on the old index or the new
  one, never a mix, and re-running the pass finishes it.

Scale shape: every compaction is one scan of the index relation (NOT
the corpus) + an optional broadcast-able anti-join on the delete ids +
one clustered rewrite — O(index), the standard nightly maintenance
cost, fully independent of corpus text.

The fingerprint index (operators/dedup.py) is the one exception to
delete-at-compaction: its deletes append negative refcount deltas that
probes see at once, and compaction folds the delta log to live rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_opendata_etl_spark.sources.batch_log import (
    commit,
    current_dir,
    must_read_log,
    write_folded,
)


def _minus_ids(df: DataFrame, delete_ids: DataFrame | None, col: str) -> DataFrame:
    if delete_ids is None:
        return df
    ids = delete_ids.select(F.col(delete_ids.columns[0]).alias(col)).distinct()
    return df.join(ids, col, "left_anti")


def compact_text_index(
    spark: SparkSession, path: str, delete_ids: DataFrame | None = None
) -> None:
    """Compact a build_text_index layout: drop deleted docs' postings,
    coalesce append batches back into the term-sorted num_files layout,
    and re-derive vocab and stats exactly from the survivors. The three
    relations commit together."""
    post = _minus_ids(
        spark.read.parquet(f"{current_dir(path)}/postings"), delete_ids, "doc_id"
    )

    def write(new: str) -> None:
        (
            post.repartitionByRange(8, "term")
            .sortWithinPartitions("term", "doc_id")
            .write.parquet(f"{new}/postings")
        )
        compacted = spark.read.parquet(f"{new}/postings")
        vocab = compacted.groupBy("term").agg(
            F.count(F.lit(1)).cast("long").alias("df")
        )
        vocab.coalesce(1).write.parquet(f"{new}/vocab")
        # one (doc, dl) row per doc: dl is denormalized per posting row
        dls = compacted.select("doc_id", "dl").distinct()
        stats = dls.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("sum_dl"),
        )
        stats.coalesce(1).write.parquet(f"{new}/stats")

    commit(path, write)


def compact_lsh_index(
    spark: SparkSession, path: str, delete_ids: DataFrame | None = None
) -> None:
    """Compact a build_lsh_bucket_index layout: drop deleted corpus
    ids' bucket rows, dedup repeated append batches, restore the
    band_hash-clustered layout. params/ is carried over unchanged — the
    hash family survives compaction by definition."""
    buckets = _minus_ids(
        spark.read.parquet(f"{current_dir(path)}/buckets"), delete_ids, "corpus_id"
    ).distinct()
    commit(
        path,
        lambda new: (
            buckets.repartitionByRange(8, "band_hash")
            .sortWithinPartitions("band_hash", "corpus_id")
            .write.parquet(f"{new}/buckets")
        ),
        carry=("params",),
    )


def compact_fingerprint_index(spark: SparkSession, path: str) -> None:
    """Fold a fingerprint delta log (build, update appends, negative
    delete deltas, streaming batch partitions) to its exact state: one
    ``(h, refcount)`` row per LIVE canon (``SUM(cnt) > 0``) under
    ``b = -1``, range-sorted. Probes sum deltas anyway, so compaction
    changes no answer — it retires log length, restores the clustered
    layout, and drops dead canons, so
    ``compact(build(all) + delete(gone)) == build(survivors)`` row for
    row. Under a streaming writer, run it with the stream STOPPED and
    its checkpoint committed: folding erases the batch partitions, so
    an uncommitted batch could no longer replay idempotently."""
    from nyc_opendata_etl_spark.operators.dedup import (
        FINGERPRINT_INDEX_SCHEMA,
        write_live_fingerprints,
    )

    folded = (
        must_read_log(spark, current_dir(path), FINGERPRINT_INDEX_SCHEMA)
        .groupBy("h")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
        .filter(F.col("cnt") > 0)
    )
    write_live_fingerprints(folded, path)


def compact_ivfpq_index(
    spark: SparkSession, path: str, delete_ids: DataFrame | None = None
) -> None:
    """Compact a build_ivfpq_index layout: drop deleted vectors' code
    rows and rewrite the cell-partitioned codes/ (one file per touched
    cell instead of per-batch fragments; a streamed codes log folds
    into the compacted batch id). Centroids, codebook, and params are
    carried over unchanged — quantizers survive deletion; re-training
    is a separate (full-build) decision."""
    from nyc_opendata_etl_spark.operators.similarity import (
        _salted_cid_repartition,
    )

    cur = current_dir(path)
    n_centroids = int(spark.read.parquet(f"{cur}/params").first()["n_centroids"])
    codes = _minus_ids(spark.read.parquet(f"{cur}/codes"), delete_ids, "id")
    commit(
        path,
        lambda new: write_folded(
            _salted_cid_repartition(codes, n_centroids), f"{new}/codes", "cid"
        ),
        carry=("params", "centroids", "codebook"),
    )


def retrain_ivfpq_index(
    spark: SparkSession,
    emb: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Periodic quantizer RE-TRAIN, the pass every
    ``update_ivfpq_index`` defers to: appends reuse the build's
    quantizers (the FAISS ``add()`` contract), so after enough corpus
    turnover the centroids stop describing the data and recall decays.
    The heal is :func:`~.similarity.build_ivfpq_index` over the CURRENT
    corpus with the params the index recorded (``params/``), committed
    as the next version of the whole root: quantizers and codes never
    mix across versions (a code is meaningless against another
    codebook), and a crash at any step of the commit leaves the old
    index or the new one serving. The result is read-equivalent to a
    fresh build, the identity the staged query's oracle replays. Cost:
    one full-corpus assignment+encode pass, off the probe path."""
    from nyc_opendata_etl_spark.operators.similarity import build_ivfpq_index

    p = spark.read.parquet(f"{current_dir(path)}/params").first()
    build_ivfpq_index(emb, path, id_col=id_col, vec_col=vec_col, **p.asDict())
