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
- **Crash tolerance**: each relation rewrites to a ``__compact_tmp``
  sibling and swaps by rename (the operators/backfill.compact_partitions
  protocol): a failure mid-rewrite leaves the live index untouched; a
  crash between the two renames leaves ``__compact_old`` for manual
  recovery. Local-FS only, as documented there.

Scale shape: every compaction is one scan of the index relation (NOT
the corpus) + an optional broadcast-able anti-join on the delete ids +
one clustered rewrite — O(index), the standard nightly maintenance
cost, fully independent of corpus text.

The fingerprint index (operators/dedup.py) is the one exception to
delete-at-compaction: its deletes append negative refcount deltas that
probes see at once, and compaction folds the delta log to live rows.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _swap_dir(live: str, rebuild) -> None:
    """Write via ``rebuild(tmp_path)`` then two-rename swap into
    ``live`` (crash tolerance contract in the module docstring)."""
    tmp = live.rstrip("/") + "__compact_tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    rebuild(tmp)
    old = live.rstrip("/") + "__compact_old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(live, old)
    os.rename(tmp, live)
    shutil.rmtree(old)


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
    and re-derive vocab and stats exactly from the survivors."""
    post = _minus_ids(
        spark.read.parquet(f"{path}/postings"), delete_ids, "doc_id"
    )
    n_files = 8
    _swap_dir(
        f"{path}/postings",
        lambda tmp: (
            post.repartitionByRange(n_files, "term")
            .sortWithinPartitions("term", "doc_id")
            .write.parquet(tmp)
        ),
    )
    compacted = spark.read.parquet(f"{path}/postings")
    vocab = compacted.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    _swap_dir(
        f"{path}/vocab", lambda tmp: vocab.coalesce(1).write.parquet(tmp)
    )
    # one (doc, dl) row per doc: dl is denormalized per posting row
    dls = compacted.select("doc_id", "dl").distinct()
    stats = dls.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("sum_dl"),
    )
    _swap_dir(
        f"{path}/stats", lambda tmp: stats.coalesce(1).write.parquet(tmp)
    )


def compact_lsh_index(
    spark: SparkSession, path: str, delete_ids: DataFrame | None = None
) -> None:
    """Compact a build_lsh_bucket_index layout: drop deleted corpus
    ids' bucket rows, dedup repeated append batches, restore the
    band_hash-clustered layout. params/ is untouched — the hash family
    survives compaction by definition."""
    buckets = _minus_ids(
        spark.read.parquet(f"{path}/buckets"), delete_ids, "corpus_id"
    ).distinct()
    _swap_dir(
        f"{path}/buckets",
        lambda tmp: (
            buckets.repartitionByRange(8, "band_hash")
            .sortWithinPartitions("band_hash", "corpus_id")
            .write.parquet(tmp)
        ),
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
        spark.read.schema(FINGERPRINT_INDEX_SCHEMA)
        .parquet(path)
        .groupBy("h")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
        .filter(F.col("cnt") > 0)
    )
    _swap_dir(path, lambda tmp: write_live_fingerprints(folded, tmp))


def compact_ivfpq_index(
    spark: SparkSession, path: str, delete_ids: DataFrame | None = None
) -> None:
    """Compact a build_ivfpq_index layout: drop deleted vectors' code
    rows and rewrite the cell-partitioned codes/ (one file per touched
    cell instead of per-batch fragments). Centroids, codebook, and
    params are untouched — quantizers survive deletion; re-training is
    a separate (full-build) decision."""
    from nyc_opendata_etl_spark.operators.similarity import (
        _salted_cid_repartition,
    )

    n_centroids = int(
        spark.read.parquet(f"{path}/params").first()["n_centroids"]
    )
    codes = _minus_ids(spark.read.parquet(f"{path}/codes"), delete_ids, "id")
    _swap_dir(
        f"{path}/codes",
        lambda tmp: (
            _salted_cid_repartition(codes, n_centroids)
            .write.partitionBy("cid")
            .parquet(tmp)
        ),
    )


def retrain_ivfpq_index(
    spark: SparkSession,
    emb: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Periodic quantizer RE-TRAIN — the maintenance pass every
    ``update_ivfpq_index`` docstring defers to ("drift between corpus
    and quantizers is what periodic re-trains are for"), completing
    the index lifecycle: build / incremental append / exactly-once
    streaming ingest / delete+compact / **retrain**.

    Appends reuse the build's quantizers (the FAISS ``add()``
    contract), so after enough corpus turnover the centroids stop
    describing the data: recall decays even though every probe is
    "correct" against the stale cells. The heal is a re-train from the
    CURRENT corpus: recompute centroids and codebook under the same
    deterministic convention as :func:`~.similarity.build_ivfpq_index`
    (keeping the live index's recorded n_centroids/m/d_sub/n_codes —
    the self-describing ``params/`` contract survives), re-assign and
    re-encode every vector, and SWAP THE WHOLE INDEX DIRECTORY in one
    rename pair. The whole-dir swap is the correctness point:
    quantizers and codes must never mix across versions (a code is
    meaningless against another codebook's centroids), so the unit of
    atomicity is the index, not the relation — readers see the old
    index or the new one, never a hybrid. A crash mid-rebuild leaves
    the live index untouched (``__compact_tmp`` discipline above).

    By the deterministic convention quantizers, the retrained index is
    read-equivalent to a FRESH ``build_ivfpq_index`` over the current
    corpus — the proof-by-identity the staged query's oracle replays.

    Cost shape at 100 TB: one full-corpus assignment+encode pass (the
    same cost as the initial build, which is what "re-train" means) —
    scheduled maintenance, never on the probe path; probes pay zero
    until the pointer flips to the new directory."""
    from nyc_opendata_etl_spark.operators.similarity import build_ivfpq_index

    p = spark.read.parquet(f"{path}/params").first()

    def rebuild(tmp: str) -> None:
        build_ivfpq_index(
            emb,
            tmp,
            n_centroids=int(p["n_centroids"]),
            m=int(p["m"]),
            d_sub=int(p["d_sub"]),
            n_codes=int(p["n_codes"]),
            id_col=id_col,
            vec_col=vec_col,
        )

    _swap_dir(path, rebuild)
