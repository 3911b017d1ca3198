"""Index and stream maintenance queries: the exactly-once streaming
drains (content dedup, SCD2 upserts, BM25 postings, IVF-PQ codes,
near-dup cluster map) and the incremental-index lifecycles (refcounted
fingerprint deletes, incremental cluster map, IVF-PQ takedown and
quantizer re-train).

Each query proves a maintained artifact answers exactly like a
from-scratch build, so most oracles are a batch query's oracle shared
by reference (or derived from it). Staged inputs and artifacts are
built by the ``_stage_*`` helpers here, which ``sources.staging``
enumerates for warmup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_opendata_etl_spark.functions.hashing import md5_long_oracle_sql
from nyc_opendata_etl_spark.operators import dedup
from nyc_opendata_etl_spark.queries import REGISTRY, register

# importing llm_ops also registers the batch queries whose oracles are shared below
from nyc_opendata_etl_spark.queries.llm_ops import _CANON
from nyc_opendata_etl_spark.sources.tables import load_table


def _fresh_run_dir(prefix: str) -> str:
    """Per-invocation scratch dir for a streaming run (sink + index +
    checkpoint), with two-sided leak control: dirs
    from THIS process are rmtree'd at interpreter exit (the returned
    DataFrame is lazy, so removal must outlive the caller — atexit is
    the earliest safe point), and orphans from crashed/killed earlier
    runs are reaped on the next invocation. Liveness, not age, decides
    what is an orphan (the old 1-hour mtime cutoff could
    delete a LIVE long run's sink/checkpoint mid-run — a large-sf
    bench or a stuck stream legitimately exceeds an hour): the owning
    pid is embedded in the dir name and probed with ``os.kill(pid,
    0)``; only dead owners are reaped. Legacy dirs without a pid tag
    fall back to a conservative 24 h mtime cutoff."""
    import atexit
    import glob
    import os
    import re
    import shutil
    import tempfile
    import time

    for old in glob.glob(os.path.join(tempfile.gettempdir(), prefix + "*")):
        m = re.match(re.escape(prefix) + r"p(\d+)_", os.path.basename(old))
        try:
            if m:
                pid = int(m.group(1))
                try:
                    os.kill(pid, 0)
                    continue  # owner alive — its run dir is not ours to reap
                except ProcessLookupError:
                    shutil.rmtree(old, ignore_errors=True)
                except PermissionError:
                    continue  # pid exists under another user — treat as live
            elif os.path.getmtime(old) < time.time() - 86400:
                shutil.rmtree(old, ignore_errors=True)
        except OSError:
            pass
    run = tempfile.mkdtemp(prefix=f"{prefix}p{os.getpid()}_")
    atexit.register(shutil.rmtree, run, ignore_errors=True)
    return run


def _stage_fingerprint_index_deleted(spark: SparkSession, sf_dir: str) -> str:
    """Stage the fingerprint index once per corpus version, exercising
    every maintenance direction: base build from the even half, an
    append batch (doc_id % 4 == 1), then a DELETE of doc_id % 8 == 0 (a
    quarter of the evens — each withdrawn doc was present exactly once,
    per the delete contract). _LOG_DONE is written last, proving all
    three phases completed."""
    import os

    from nyc_opendata_etl_spark.sources.staging import is_stale, stage_dir

    path = stage_dir(sf_dir, "fingerprint_index_del")
    if is_stale(path, sf_dir, "documents", marker="_LOG_DONE"):
        docs = load_table(spark, sf_dir, "documents")
        dedup.build_fingerprint_index(docs.filter(F.col("doc_id") % 2 == 0), path)
        dedup.update_fingerprint_index(docs.filter(F.col("doc_id") % 4 == 1), path)
        dedup.delete_from_fingerprint_index(docs.filter(F.col("doc_id") % 8 == 0), path)
        with open(os.path.join(path, "_LOG_DONE"), "w") as fh:
            fh.write("")
    return path


@register(
    "dedup_incremental_rc",
    oracle=f"""
    WITH deltas AS (
        SELECT {md5_long_oracle_sql(_CANON)} AS h,
               CAST(count(*) AS BIGINT) AS cnt
        FROM documents WHERE doc_id % 2 = 0 GROUP BY 1
        UNION ALL
        SELECT {md5_long_oracle_sql(_CANON)}, CAST(count(*) AS BIGINT)
        FROM documents WHERE doc_id % 4 = 1 GROUP BY 1
        UNION ALL
        SELECT {md5_long_oracle_sql(_CANON)}, -CAST(count(*) AS BIGINT)
        FROM documents WHERE doc_id % 8 = 0 GROUP BY 1
    ),
    live AS (SELECT h FROM deltas GROUP BY h HAVING sum(cnt) > 0),
    probe AS (
        SELECT doc_id, {md5_long_oracle_sql(_CANON)} AS h
        FROM documents WHERE doc_id % 4 = 3
    )
    SELECT doc_id FROM probe p
    WHERE NOT EXISTS (SELECT 1 FROM live l WHERE l.h = p.h)
    """,
)
def q_dedup_incremental_rc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against a staged fingerprint index that has
    seen deletions — dedup_incremental's takedown twin. The staged delta
    log is built base + append + DELETE (doc_id % 8 == 0 withdrawn), so
    the probe must treat a canon whose only copies were withdrawn as
    NEW again while a canon with any surviving copy stays live. The
    oracle recomputes the signed per-canon deltas from raw documents
    (verifying the staged log's CONTENT, not just the join) and replays
    the SUM(cnt) > 0 liveness rule. Probe plan: batch hashes broadcast into
    a left-semi over the index scan + partial SUM — O(new docs), no
    index shuffle (plan-pinned in tests/test_round12b_ops.py)."""
    index_path = _stage_fingerprint_index_deleted(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    batch = docs.filter(F.col("doc_id") % 4 == 3)
    index = dedup.read_fingerprint_index(spark, index_path)
    return dedup.incremental_new_docs(batch, index)


def _stage_docs_idordered(spark: SparkSession, sf_dir: str) -> str:
    """Stage documents as 8 doc_id-range-ordered parquet files with
    ascending mtimes (the _stage_events protocol: FileStreamSource
    replays by ms-precision mtime; part numbering == range order under
    repartitionByRange, and stamps go BACKWARDS from now so nothing
    lands in the future and masks a source regeneration). Ascending id
    ranges are what make the ingest contract SQL-expressible: the first
    micro-batch containing a canon holds that canon's smallest ids, so
    the accepted doc per canon is the GLOBAL min id."""
    import os
    import time

    from nyc_opendata_etl_spark.sources.staging import is_stale, stage_dir

    path = stage_dir(sf_dir, "docs_idordered")
    if is_stale(path, sf_dir, "documents"):
        (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .repartitionByRange(8, "doc_id")
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite")
            .parquet(path)
        )
        parts = sorted(f for f in os.listdir(path) if f.startswith("part-"))
        base = time.time()
        for i, p in enumerate(parts):
            # ≥1 s apart: 1 ms sat at the precision floor of both
            # os.utime round-tripping and FileStreamSource's
            # ms-granularity mtimes — a coarser filesystem would
            # collapse the stamps to ties and make batch order (and
            # the min-id oracle) flaky.
            t = base - (len(parts) - i) * 1.0
            os.utime(os.path.join(path, p), (t, t))
    return path


@register(
    "stream_dedup_ingest",
    # The accepted corpus is exactly one doc per live canon, and with
    # id-range-ordered micro-batches that doc is the canon's global
    # min id — the exact_dedup_groups keep set, a plain SQL aggregate.
    oracle=f"""
    SELECT min(doc_id) AS doc_id
    FROM (SELECT doc_id, {md5_long_oracle_sql(_CANON)} AS h FROM documents)
    GROUP BY h
    """,
)
def q_stream_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming content-dedup ingestion (streaming/ingest.py) run as a
    bounded AvailableNow drain: 4 micro-batches (8 staged files,
    maxFilesPerTrigger=2) through the foreachBatch probe-then-update
    kernel against the b-partitioned refcounted fingerprint log — both
    writes idempotent per batch partition, the probe excluding the
    current batch id (replay safety), within-batch collapse to the
    min-id row. Index/sink/checkpoint live in a fresh per-run temp dir
    (a run IS the unit here; the staged input is the cached artifact).
    The differential gate then proves the whole pipeline — batching,
    probe, idempotent writes — lands exactly the exact-dedup keep set.
    100×: 8-batch 500k-doc drain in 24.6 s (SCALE_SWEEP_100X_r12),
    after the two sweep-found batch-scale fixes (re-spread the
    file-source batch, checkpoint the bounded collapse)."""
    import uuid

    from nyc_opendata_etl_spark.streaming.ingest import stream_dedup_ingest

    src = _stage_docs_idordered(spark, sf_dir)
    run = _fresh_run_dir("spark_graft_ingest_run_")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
    )
    stream_dedup_ingest(
        stream,
        f"{run}/idx",
        f"{run}/out",
        query_name=f"ingest_{uuid.uuid4().hex[:8]}",
        checkpoint_location=f"{run}/ckpt",
    )
    return spark.read.parquet(f"{run}/out").select("doc_id")


def _stage_cdc_batches(spark: SparkSession, sf_dir: str) -> str:
    """Stage two CDC update batches against the customer dim as plain
    top-level parquet FILES with ascending mtimes (file-source batch
    order). KEY-DISJOINT by construction — batch 0 changes custkey%4==0,
    batch 1 no-ops %4==1 and inserts shifted %4==2 — which is what
    makes the streaming result SQL-expressible: SCD2 merges over
    key-disjoint update sets COMPOSE, so merge(merge(dim,b0),b1) ==
    merge(dim, b0 ∪ b1), a single-merge oracle. Spark writes each batch
    into a scratch subdir and the part file is renamed up (the file
    source ignores nested directories)."""
    import os
    import shutil
    import time

    from nyc_opendata_etl_spark.sources.staging import is_stale, stage_dir

    path = stage_dir(sf_dir, "cdc_customer_batches")
    if is_stale(path, sf_dir, "customer"):
        cust = load_table(spark, sf_dir, "customer")
        eff = F.to_date(F.lit("2025-06-01"))
        batches = [
            cust.filter(F.col("c_custkey") % 4 == 0).select(
                F.col("c_custkey").alias("k"),
                F.concat(F.lit("V0_"), "c_mktsegment").alias("attr"),
                eff.alias("eff_date"),
            ),
            cust.filter(F.col("c_custkey") % 4 == 1)
            .select(
                F.col("c_custkey").alias("k"),
                F.col("c_mktsegment").alias("attr"),
                eff.alias("eff_date"),
            )
            .unionByName(
                cust.filter(F.col("c_custkey") % 4 == 2).select(
                    (F.col("c_custkey") + 10_000_000).alias("k"),
                    F.lit("FRESH").alias("attr"),
                    eff.alias("eff_date"),
                )
            ),
        ]
        os.makedirs(path, exist_ok=True)
        base = time.time()
        for i, b in enumerate(batches):
            scratch = os.path.join(path, f"__scratch_{i}")
            b.coalesce(1).write.mode("overwrite").parquet(scratch)
            part = next(
                f for f in os.listdir(scratch) if f.startswith("part-")
            )
            dst = os.path.join(path, f"b{i}.parquet")
            os.replace(os.path.join(scratch, part), dst)
            shutil.rmtree(scratch)
            # ≥1 s spacing — see _stage_docs_idordered.
            t = base - (len(batches) - i) * 1.0
            os.utime(dst, (t, t))
        with open(os.path.join(path, "_SUCCESS"), "w") as fh:
            fh.write("")
    return path


@register(
    "stream_scd2_upserts",
    # single-merge SQL over the UNION of the key-disjoint batches ==
    # the two-batch streamed composition (see _stage_cdc_batches); the
    # CTE structure is the scd2_merge query's oracle pattern.
    oracle="""
    WITH cur AS (
        SELECT c_custkey AS k, c_mktsegment AS attr,
               DATE '2024-01-01' AS effective_from,
               CAST(NULL AS DATE) AS effective_to,
               TRUE AS is_current
        FROM customer
    ),
    upd AS (
        SELECT c_custkey AS k, concat('V0_', c_mktsegment) AS attr,
               DATE '2025-06-01' AS eff
        FROM customer WHERE c_custkey % 4 = 0
        UNION ALL
        SELECT c_custkey, c_mktsegment, DATE '2025-06-01'
        FROM customer WHERE c_custkey % 4 = 1
        UNION ALL
        SELECT c_custkey + 10000000, 'FRESH', DATE '2025-06-01'
        FROM customer WHERE c_custkey % 4 = 2
    ),
    closed AS (
        SELECT c.k, c.attr, c.effective_from, u.eff AS effective_to,
               FALSE AS is_current
        FROM cur c JOIN upd u USING (k)
        WHERE c.attr IS DISTINCT FROM u.attr
    ),
    opened AS (
        SELECT u.k, u.attr, u.eff AS effective_from,
               CAST(NULL AS DATE) AS effective_to, TRUE AS is_current
        FROM upd u LEFT JOIN cur c USING (k)
        WHERE c.k IS NULL OR c.attr IS DISTINCT FROM u.attr
    ),
    as_is AS (
        SELECT c.k, c.attr, c.effective_from, c.effective_to, c.is_current
        FROM cur c LEFT JOIN upd u USING (k)
        WHERE u.k IS NULL OR c.attr IS NOT DISTINCT FROM u.attr
    )
    SELECT * FROM closed UNION ALL SELECT * FROM opened
    UNION ALL SELECT * FROM as_is
    """,
)
def q_stream_scd2_upserts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 dimension maintenance (streaming/dim_sink.py) as
    a bounded AvailableNow drain: two key-disjoint CDC micro-batches
    (change / no-op / insert variety) fold into the customer dim via
    the versioned-snapshot sink — batch b merges the newest snapshot
    STRICTLY below b and overwrites ``v=b`` (replay-pinned inputs,
    idempotent writes; the double-apply trap is pinned in
    tests/test_round12b_ops.py). Key-disjointness makes SCD2 merges
    compose, so the streamed two-batch result equals ONE merge of the
    union — the oracle replays exactly that with the scd2_merge CTE
    pattern, proving the whole sink (batching, version pinning,
    pointer) lands the single-merge answer. Dim/checkpoint live in a
    fresh per-run temp dir; the staged CDC files are the cached
    artifact. 100×: 8 batches over the 15k-key dim in 7.3 s
    (SCALE_SWEEP_100X_r12)."""
    import uuid

    from nyc_opendata_etl_spark.streaming.dim_sink import (
        init_scd2_dim,
        read_scd2_dim,
        stream_scd2_upserts,
    )

    src = _stage_cdc_batches(spark, sf_dir)
    run = _fresh_run_dir("spark_graft_scd2_run_")
    dim_path = f"{run}/dim"
    cur = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("attr"),
        F.to_date(F.lit("2024-01-01")).alias("effective_from"),
        F.lit(None).cast("date").alias("effective_to"),
        F.lit(True).alias("is_current"),
    )
    init_scd2_dim(cur, dim_path)
    stream = (
        spark.readStream.schema("k long, attr string, eff_date date")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    stream_scd2_upserts(
        stream, dim_path, ["k"], ["attr"],
        query_name=f"scd2_{uuid.uuid4().hex[:8]}",
        checkpoint_location=f"{run}/ckpt",
    )
    return read_scd2_dim(spark, dim_path)


@register(
    # Proof by identity: the streaming-built index must reproduce
    # search_bm25's EXACT result over the same corpus and terms, so
    # its oracle is search_bm25's oracle VERBATIM (shared by
    # reference, not by copy — a BM25 constant tweak can never
    # desynchronize the two).
    "stream_index_ingest",
    oracle=REGISTRY["search_bm25"].oracle,
)
def q_stream_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once STREAMING index maintenance
    (streaming/index_ingest.py) run as a bounded AvailableNow drain:
    the corpus arrives in 4 micro-batches (8 staged id-ordered files,
    maxFilesPerTrigger=2) and each batch dynamic-overwrites only its
    own postings/stats partitions — a replayed batch rewrites identical
    content instead of double-appending (the defect update_text_index's
    append mode would have under replay; pinned in
    tests/test_round13_ops.py). The delta-aware probe derives df from
    the pruned term postings and folds the per-batch stats, scoring
    bit-identically to a from-scratch build — so the search_bm25 oracle
    verifies batching, idempotent writes, AND the probe end to end.
    Index/checkpoint live in a reaped per-run temp dir."""
    import uuid

    from nyc_opendata_etl_spark.streaming.index_ingest import (
        bm25_topk_delta,
        stream_index_ingest,
    )

    src = _stage_docs_idordered(spark, sf_dir)
    run = _fresh_run_dir("spark_graft_iidx_run_")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
    )
    stream_index_ingest(
        stream,
        f"{run}/idx",
        query_name=f"iidx_{uuid.uuid4().hex[:8]}",
        checkpoint_location=f"{run}/ckpt",
    )
    return bm25_topk_delta(spark, f"{run}/idx", ["hash", "join", "vector"])


def _stage_dup_cluster_index_incr(spark: SparkSession, sf_dir: str) -> str:
    """Stage the incremental cluster-map artifact once per corpus
    version: base build from the even half, one maintenance batch
    (batch 0 — the build seeds batch −1) folding in the odd half
    (operators/cluster_index.py). _INCR_DONE is written last, proving
    both phases completed. The staging kind carries a ``2`` suffix:
    the crash-idempotence rework changed the artifact
    LAYOUT (batch-partitioned logs + versioned cluster snapshots), so
    pre-rework staged dirs must never satisfy the staleness check."""
    import os

    from nyc_opendata_etl_spark.operators import cluster_index as ci
    from nyc_opendata_etl_spark.sources.staging import is_stale, stage_dir

    path = stage_dir(sf_dir, "dup_cluster_index_incr2")
    if is_stale(path, sf_dir, "documents", marker="_INCR_DONE"):
        # A stale rebuild must start from an EMPTY artifact.
        # build_dup_cluster_index only overwrites b=-1/v=-1 partitions,
        # so a prior run's b>=0 logs / v>=0 snapshots would survive a
        # corpus change or crashed drain and poison later updates.
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        docs = load_table(spark, sf_dir, "documents")
        ci.build_dup_cluster_index(docs.filter(F.col("doc_id") % 2 == 0), path)
        ci.update_dup_cluster_index(
            spark, docs.filter(F.col("doc_id") % 2 == 1), path, batch_id=0
        )
        with open(os.path.join(path, "_INCR_DONE"), "w") as fh:
            fh.write("")
    return path


def _stage_emb_idordered(spark: SparkSession, sf_dir: str) -> str:
    """Stage embeddings as 8 vec_id-range-ordered parquet files with
    ascending ≥1 s-apart mtimes — the _stage_docs_idordered protocol
    (FileStreamSource replays by ms-precision mtime; stamps go
    backwards from now), applied to the embeddings table so the ANN
    ingest stream drains in deterministic id-ordered micro-batches."""
    import os
    import time

    from nyc_opendata_etl_spark.sources.staging import is_stale, stage_dir

    path = stage_dir(sf_dir, "emb_idordered")
    if is_stale(path, sf_dir, "embeddings"):
        (
            load_table(spark, sf_dir, "embeddings")
            .select("vec_id", "embedding")
            .repartitionByRange(8, "vec_id")
            .sortWithinPartitions("vec_id")
            .write.mode("overwrite")
            .parquet(path)
        )
        parts = sorted(f for f in os.listdir(path) if f.startswith("part-"))
        base = time.time()
        for i, p in enumerate(parts):
            t = base - (len(parts) - i) * 1.0
            os.utime(os.path.join(path, p), (t, t))
    return path


def _stage_ivfpq_stream(spark: SparkSession, sf_dir: str) -> str:
    """Stage the STREAMING-built IVF-PQ index once per corpus version:
    quantizers (centroids/codebook/params) come from a build over the
    even-vec_id half — the similarity_ivfpq_incremental geometry, so
    that query's oracle transfers verbatim — but the build's codes are
    DISCARDED and the FULL corpus arrives through the exactly-once
    streaming sink (4 AvailableNow micro-batches over 8 id-ordered
    files), each batch dynamic-overwriting its own (batch, cid)
    partitions. _STREAM_DONE is written last, proving build + discard
    + drain all completed."""
    import os
    import shutil
    import uuid

    from nyc_opendata_etl_spark.operators import similarity
    from nyc_opendata_etl_spark.sources.staging import is_stale, stage_dir
    from nyc_opendata_etl_spark.streaming.ann_ingest import stream_ivfpq_ingest

    path = stage_dir(sf_dir, "ivfpq_index_stream")
    if is_stale(path, sf_dir, "embeddings", marker="_STREAM_DONE"):
        emb = load_table(spark, sf_dir, "embeddings")
        similarity.build_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 0), path)
        # codes arrive via the stream under the (batch, cid) layout —
        # the build's cid-only codes would break partition discovery
        shutil.rmtree(os.path.join(path, "codes"), ignore_errors=True)
        src = _stage_emb_idordered(spark, sf_dir)
        run = _fresh_run_dir("spark_graft_annidx_run_")
        stream = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", "2")
            .parquet(src)
        )
        stream_ivfpq_ingest(
            stream,
            path,
            query_name=f"annidx_{uuid.uuid4().hex[:8]}",
            checkpoint_location=f"{run}/ckpt",
        )
        with open(os.path.join(path, "_STREAM_DONE"), "w") as fh:
            fh.write("")
    return path


@register(
    # Proof by identity: the streaming-built index must reproduce the
    # batch-incremental index's EXACT probe result (both are the full
    # corpus routed/encoded against the even-half quantizers), so its
    # oracle is similarity_ivfpq_incremental's oracle VERBATIM (shared
    # by reference — a quantizer or ADC tweak can never desynchronize
    # the two).
    "stream_ivfpq_ingest",
    oracle=REGISTRY["similarity_ivfpq_incremental"].oracle,
)
def q_stream_ivfpq_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once STREAMING ANN index maintenance
    (streaming/ann_ingest.py) run as a bounded AvailableNow drain: the
    embedding corpus arrives in 4 micro-batches and each batch
    dynamic-overwrites only its own (batch, cid) code partitions — a
    replayed batch rewrites identical content instead of appending
    duplicate code rows (which would silently DOUBLE a candidate's
    ADC distance in the probe's groupBy(id) sum; the defect
    update_ivfpq_index's append mode would have under replay).
    Quantizers are frozen from the even-half build (the FAISS add()
    contract), so the streamed index state equals
    similarity_ivfpq_incremental's and the unchanged probe
    (ivfpq_topk_indexed — cid partition pruning works under every
    batch= directory) scores bit-identically; that query's oracle
    verifies batching, idempotent writes, AND the probe end to end."""
    from nyc_opendata_etl_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings", spread_input=True)
    index = _stage_ivfpq_stream(spark, sf_dir)
    return similarity.ivfpq_topk_indexed(spark, emb, index, query_vec_id=43)


@register(
    # Proof by identity: the incrementally maintained cluster map must
    # reproduce dedup_clusters' EXACT output over the same corpus, so
    # its oracle is dedup_clusters' recursive-CTE oracle VERBATIM
    # (shared by reference — a threshold or shingle tweak can never
    # desynchronize the two).
    "dedup_clusters_incremental",
    oracle=REGISTRY["dedup_clusters"].oracle,
)
def q_dedup_clusters_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters from the INCREMENTALLY maintained staged
    cluster map (operators/cluster_index.py): the even half of the
    corpus is clustered from scratch, the odd half folded in as a
    maintenance batch — new docs probe the staged AllPairs prefix
    index (lossless across batches: the canonical shingle-hash order
    is global), identical texts join their group by content hash
    without any pair work, and connected components run on the DELTA
    graph with old clusters contracted to their label nodes. A green
    row proves append + contract-merge + relabel reconstructs exactly
    the from-scratch clustering — the hourly-ingest-vs-nightly-
    re-cluster contract a 100 TB dedup service depends on (the
    search_bm25_incremental proof, clustering edition). Completes the
    incremental-index family: posting list, LSH buckets,
    fingerprint/rc, IVF-PQ, and now the cluster map itself."""
    from nyc_opendata_etl_spark.operators import cluster_index as ci

    path = _stage_dup_cluster_index_incr(spark, sf_dir)
    return ci.read_dup_clusters(spark, path)


def _stage_docs_odd_idordered(spark: SparkSession, sf_dir: str) -> str:
    """Stage the ODD-doc_id half of documents as 8 id-range-ordered
    parquet files with ascending ≥1 s-apart mtimes (the
    _stage_docs_idordered protocol: FileStreamSource replays by
    ms-precision mtime; stamps go backwards from now), so the cluster
    ingest stream drains the maintenance half in deterministic
    id-ordered micro-batches whose ids are disjoint from the even-half
    build — the batch updater's new-ids-only contract."""
    import os
    import time

    from nyc_opendata_etl_spark.sources.staging import is_stale, stage_dir

    path = stage_dir(sf_dir, "docs_odd_idordered")
    if is_stale(path, sf_dir, "documents"):
        (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 2 == 1)
            .select("doc_id", "text")
            .repartitionByRange(8, "doc_id")
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite")
            .parquet(path)
        )
        parts = sorted(f for f in os.listdir(path) if f.startswith("part-"))
        base = time.time()
        for i, p in enumerate(parts):
            t = base - (len(parts) - i) * 1.0
            os.utime(os.path.join(path, p), (t, t))
    return path


def _stage_cluster_stream(spark: SparkSession, sf_dir: str) -> str:
    """Stage the STREAMING-maintained cluster map once per corpus
    version: from-scratch build over the even half (batch −1), then
    the odd half arrives through the exactly-once streaming sink
    (4 AvailableNow micro-batches over 8 id-ordered files), each epoch
    folding O(batch) work into the artifact — the
    dedup_clusters_incremental geometry with the single maintenance
    batch replaced by a genuine Structured Streaming drain, so that
    query's oracle transfers VERBATIM. _STREAM_DONE is written last,
    proving build + drain both completed."""
    import os
    import uuid

    from nyc_opendata_etl_spark.operators import cluster_index as ci
    from nyc_opendata_etl_spark.sources.staging import is_stale, stage_dir
    from nyc_opendata_etl_spark.streaming.cluster_ingest import (
        stream_cluster_ingest,
    )

    path = stage_dir(sf_dir, "dup_cluster_index_stream")
    if is_stale(path, sf_dir, "documents", marker="_STREAM_DONE"):
        # A stale rebuild must start from an EMPTY artifact
        # (build only overwrites b=-1/v=-1; surviving b>=0 logs from a
        # crashed drain or prior corpus would poison later updates).
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        docs = load_table(spark, sf_dir, "documents")
        ci.build_dup_cluster_index(docs.filter(F.col("doc_id") % 2 == 0), path)
        src = _stage_docs_odd_idordered(spark, sf_dir)
        run = _fresh_run_dir("spark_graft_clidx_run_")
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "2")
            .parquet(src)
        )
        stream_cluster_ingest(
            stream,
            path,
            query_name=f"clidx_{uuid.uuid4().hex[:8]}",
            checkpoint_location=f"{run}/ckpt",
        )
        with open(os.path.join(path, "_STREAM_DONE"), "w") as fh:
            fh.write("")
    return path


@register(
    # Proof by identity: the streamed cluster map must reproduce
    # dedup_clusters' EXACT output over the same corpus, so its oracle
    # is dedup_clusters' recursive-CTE oracle VERBATIM (shared by
    # reference — a threshold or shingle tweak can never desynchronize
    # the two; the dedup_clusters_incremental proof, streaming
    # edition).
    "stream_cluster_ingest",
    oracle=REGISTRY["dedup_clusters"].oracle,
)
def q_stream_cluster_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters from the STREAMING-maintained cluster map
    (streaming/cluster_ingest.py): the even half is clustered from
    scratch, the odd half arrives in 4 exactly-once micro-batches,
    each folded in O(batch) by the replay-idempotent batch updater —
    strictly-below-batch reads + per-batch dynamic overwrite mean a
    replayed epoch rewrites byte-identical content (no marker, no
    dedup pass; the property the idempotence rework bought). A green
    row proves 4 successive contract-preserving folds reconstruct the
    from-scratch clustering through a real Structured Streaming drain
    — the hourly-cluster-ingest contract end to end. Completes the
    streaming maintenance family: BM25 postings, IVF-PQ codes, and
    now the cluster map."""
    from nyc_opendata_etl_spark.operators import cluster_index as ci

    path = _stage_cluster_stream(spark, sf_dir)
    return ci.read_dup_clusters(spark, path)


def _stage_ivfpq_index_deleted(spark: SparkSession, sf_dir: str) -> str:
    """Stage the DELETION lifecycle of the IVF-PQ index: incremental
    construction (build even half, append odd half — the
    similarity_ivfpq_incremental geometry, so that oracle transfers by
    derivation), then TAKEDOWN of every vec_id ≡ 3 (mod 7) via
    compact_ivfpq_index(delete_ids) — code rows dropped and the
    cell-partitioned layout rewritten, quantizers untouched (they
    survive deletion even of their own training vectors: vec_id 10 is
    both a centroid source and deleted, deliberately). _DEL_DONE is
    written last, proving build + append + delete-compact all
    completed."""
    import os

    from nyc_opendata_etl_spark.operators import similarity
    from nyc_opendata_etl_spark.operators.index_maintenance import (
        compact_ivfpq_index,
    )
    from nyc_opendata_etl_spark.sources.staging import is_stale, stage_dir

    path = stage_dir(sf_dir, "ivfpq_index_deleted")
    if is_stale(path, sf_dir, "embeddings", marker="_DEL_DONE"):
        emb = load_table(spark, sf_dir, "embeddings")
        similarity.build_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 0), path)
        similarity.update_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 1), path)
        compact_ivfpq_index(
            spark,
            path,
            delete_ids=emb.filter(F.col("vec_id") % 7 == 3).select(
                F.col("vec_id").alias("id")
            ),
        )
        with open(os.path.join(path, "_DEL_DONE"), "w") as fh:
            fh.write("")
    return path


def _ivfpq_after_delete_oracle() -> str:
    """similarity_ivfpq_incremental's oracle BY DERIVATION: identical
    protocol replay (build-half quantizers, full-corpus assignment)
    with deleted vectors excluded from candidacy AND from the exact
    top-k the recall boolean compares against. Derived, not copied, so
    a quantizer/ADC tweak in the parent oracle flows through; the
    anchors are asserted so a parent edit that breaks them fails at
    import, not silently at compare time."""
    base = REGISTRY["similarity_ivfpq_incremental"].oracle
    a1 = "JOIN probes p ON a.cid = p.cid WHERE a.vec_id <> 43"
    a2 = "WHERE e.vec_id <> 43"
    assert base.count(a1) == 1 and base.count(a2) == 1, (
        "parent oracle anchors moved; re-derive the after-delete oracle"
    )
    out = base.replace(a1, a1 + " AND a.vec_id % 7 <> 3")
    out = out.replace(a2, a2 + " AND e.vec_id % 7 <> 3")
    return out


@register("similarity_after_delete", oracle=_ivfpq_after_delete_oracle())
def q_similarity_after_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ probe AFTER TAKEDOWN — the deletion lifecycle the text
    index already proves (search_bm25_after_delete), ANN edition,
    completing the IVF-PQ family's lifecycle: build, incremental
    append, exactly-once streaming ingest, and now delete + compact.
    Every vec_id ≡ 3 (mod 7) is removed from the staged incremental
    index via compact_ivfpq_index (code rows dropped, cell layout
    rewritten, quantizers kept — the FAISS remove_ids() contract);
    the unchanged probe (query 43, a survivor) must then return
    exactly what the derivation oracle computes over survivors — a
    green row proves deleted vectors can never resurface as
    candidates AND that the exact-recall boolean is judged against
    the surviving corpus, the right-to-be-forgotten contract for an
    embedding store."""
    from nyc_opendata_etl_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings", spread_input=True)
    index = _stage_ivfpq_index_deleted(spark, sf_dir)
    return similarity.ivfpq_topk_indexed(spark, emb, index, query_vec_id=43)


def _stage_ivfpq_index_retrained(spark: SparkSession, sf_dir: str) -> str:
    """Stage the RE-TRAIN lifecycle of the IVF-PQ index: incremental
    construction with deliberately DRIFTED quantizers (build the even
    half — its convention centroids are the 8 even vec_ids < 16 —
    then append the odd half against those stale cells), then heal via
    retrain_ivfpq_index over the CURRENT full corpus, which recomputes
    the convention quantizers (now all 16 vec_ids < 16), re-encodes
    every vector, and atomically swaps the whole index directory.
    _RETRAIN_DONE is written last (and necessarily AFTER the swap — a
    marker written pre-swap would be discarded with the old
    directory), proving build + append + retrain all completed."""
    import os
    import shutil

    from nyc_opendata_etl_spark.operators import similarity
    from nyc_opendata_etl_spark.operators.index_maintenance import (
        retrain_ivfpq_index,
    )
    from nyc_opendata_etl_spark.sources.staging import is_stale, stage_dir

    path = stage_dir(sf_dir, "ivfpq_index_retrained")
    if is_stale(path, sf_dir, "embeddings", marker="_RETRAIN_DONE"):
        # stale rebuild starts from an empty artifact (a crashed prior
        # attempt must not survive)
        shutil.rmtree(path, ignore_errors=True)
        emb = load_table(spark, sf_dir, "embeddings")
        similarity.build_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 0), path)
        similarity.update_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 1), path)
        retrain_ivfpq_index(spark, emb, path)
        with open(os.path.join(path, "_RETRAIN_DONE"), "w") as fh:
            fh.write("")
    return path


@register(
    # Proof by identity: a retrained index must be read-equivalent to a
    # FRESH build over the current corpus, so its oracle is
    # similarity_ivfpq_topk's full-corpus fresh-build oracle VERBATIM
    # (shared by reference — a quantizer or ADC tweak in the parent can
    # never desynchronize the two). Same probe (query 42).
    "similarity_ivfpq_retrain",
    oracle=REGISTRY["similarity_ivfpq_topk"].oracle,
)
def q_similarity_ivfpq_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ probe AFTER QUANTIZER RE-TRAIN — the drift-heal pass
    every append defers to (update_ivfpq_index reuses build quantizers,
    the FAISS add() contract; after enough turnover the cells stop
    describing the corpus). The staged index is built with stale
    even-half quantizers, appended, then retrained from the full
    corpus via operators/index_maintenance.retrain_ivfpq_index (same
    recorded params, whole-directory atomic swap — quantizers and
    codes never mix across versions). A green row proves the retrained
    index answers EXACTLY like a fresh build over the current corpus —
    completing the ANN lifecycle: build / incremental append /
    exactly-once streaming ingest / delete+compact / retrain."""
    from nyc_opendata_etl_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings", spread_input=True)
    index = _stage_ivfpq_index_retrained(spark, sf_dir)
    return similarity.ivfpq_topk_indexed(spark, emb, index, query_vec_id=42)
