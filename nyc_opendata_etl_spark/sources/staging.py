"""Mtime-guarded staging of derived artifacts (indexes, materialized
relations) keyed to a source table's version.

A real lakehouse stages write-time artifacts — posting lists, ANN
indexes, pre-joined edge relations — alongside the data and rebuilds
them when the source version advances. This module is the minimal local
mirror of that: a deterministic staging directory per (sf_dir, kind)
under the system temp dir, and a freshness check comparing the staged
_SUCCESS marker's mtime against the source parquet's. Builders run at
most once per source version per machine; every query execution after
that probes the staged artifact.

The generalization of the `_stage_documents` pattern in
queries/parity.py (CSV/JSONL/ORC staging), factored out because round 7
adds three more staged artifacts (text posting list, IVF-PQ index,
co-purchase edge relation).
"""

from __future__ import annotations

import hashlib
import os
import tempfile


def stage_root() -> str:
    """Base directory all staged artifacts live under.

    ``$SPARK_GRAFT_STAGE_ROOT`` overrides the system temp dir. The
    override exists for harnesses that pin ``TMPDIR`` per subprocess to
    isolate Spark scratch (tools/scale_sweep.py): without it, every
    child resolves a fresh empty temp dir, rebuilds each write-time
    index from scratch, and throws it away — so every recorded number
    is build-inclusive and the build is never amortized, the opposite
    of the write-time-staging architecture this module exists to model.
    """
    return os.environ.get("SPARK_GRAFT_STAGE_ROOT") or tempfile.gettempdir()


def stage_dir(sf_dir: str, kind: str) -> str:
    """Deterministic staging directory for a derived artifact of
    ``sf_dir`` (keyed by path hash so differently-located replicas —
    e.g. the 10×/100× scale copies — never collide)."""
    key = hashlib.md5(sf_dir.rstrip("/").encode()).hexdigest()[:12]
    return os.path.join(
        stage_root(),
        "spark_graft_stage",
        f"{os.path.basename(sf_dir.rstrip('/'))}_{key}",
        kind,
    )


def is_stale(stage: str, sf_dir: str, src_table: str, marker: str = "_SUCCESS") -> bool:
    """True if the staged artifact is missing or older than the source
    table's parquet — the rebuild trigger."""
    src = os.path.join(sf_dir, f"{src_table}.parquet")
    mk = os.path.join(stage, marker)
    return not (
        os.path.exists(mk) and os.path.getmtime(mk) > os.path.getmtime(src)
    )


def stage_all(spark, sf_dir: str) -> list[tuple[str, float]]:
    """Run every write-time artifact builder for ``sf_dir``; returns
    ``(label, seconds)`` per artifact. Builders are mtime-guarded, so a
    warm call costs only the freshness probes (~0.1 s each).

    The ONE enumeration of the engine's staged artifacts — shared by
    ``tools/stage_warmup.py`` (explicit prebuild) and ``bench.py``
    (which stages BEFORE the timed suite and reports the build cost as
    its own ``staging_sec`` line, so per-round bench diffs never
    conflate a one-time stage rebuild with a query regression — the
    round-9 streaming "regression" was exactly that conflation)."""
    import time

    from nyc_opendata_etl_spark.queries.event_windows import (
        _stage_events,
        _stage_events_zordered,
    )
    from nyc_opendata_etl_spark.queries.llm_ops import (
        _stage_chunk_text_index,
        _stage_chunk_text_index_incremental,
        _stage_dup_clusters,
        _stage_fingerprint_index,
        _stage_ivfpq_index,
        _stage_ivfpq_index_incremental,
        _stage_lsh_index,
        _stage_text_index,
        _stage_text_index_compacted,
        _stage_text_index_incremental,
    )
    from nyc_opendata_etl_spark.queries.maintenance import (
        _stage_cdc_batches,
        _stage_cluster_stream,
        _stage_docs_idordered,
        _stage_dup_cluster_index_incr,
        _stage_fingerprint_index_deleted,
        _stage_ivfpq_index_deleted,
        _stage_ivfpq_index_retrained,
        _stage_ivfpq_stream,
    )
    from nyc_opendata_etl_spark.queries.parity import _stage_documents
    from nyc_opendata_etl_spark.queries.relational import _stage_copurchase_edges

    builders = [
        ("text_index (BM25 postings)", lambda: _stage_text_index(spark, sf_dir)),
        (
            "chunk_text_index (passage-level BM25; r13)",
            lambda: _stage_chunk_text_index(spark, sf_dir),
        ),
        (
            # ADVICE r13: without this entry the incremental passage
            # query's first bench execution paid the index build
            # inside the timed query — the build/query conflation this
            # module exists to prevent.
            "chunk_text_index_incr (incremental passage BM25; r13)",
            lambda: _stage_chunk_text_index_incremental(spark, sf_dir),
        ),
        (
            "dup_clusters (near-dup cluster map; r14)",
            lambda: _stage_dup_clusters(spark, sf_dir),
        ),
        (
            "dup_cluster_index_incr2 (incremental cluster map; r15)",
            lambda: _stage_dup_cluster_index_incr(spark, sf_dir),
        ),
        (
            "ivfpq_index_stream (streaming ANN maintenance; r15)",
            lambda: _stage_ivfpq_stream(spark, sf_dir),
        ),
        (
            "dup_cluster_index_stream (streaming cluster map)",
            lambda: _stage_cluster_stream(spark, sf_dir),
        ),
        (
            "ivfpq_index_deleted (ANN takedown lifecycle)",
            lambda: _stage_ivfpq_index_deleted(spark, sf_dir),
        ),
        (
            "ivfpq_index_retrained (ANN quantizer re-train lifecycle)",
            lambda: _stage_ivfpq_index_retrained(spark, sf_dir),
        ),
        (
            "fingerprint_index_del (dedup takedown lifecycle)",
            lambda: _stage_fingerprint_index_deleted(spark, sf_dir),
        ),
        (
            "docs_idordered (ingest stream source)",
            lambda: _stage_docs_idordered(spark, sf_dir),
        ),
        (
            "cdc_customer_batches (SCD2 stream source)",
            lambda: _stage_cdc_batches(spark, sf_dir),
        ),
        (
            "text_index_incr (incremental postings)",
            lambda: _stage_text_index_incremental(spark, sf_dir),
        ),
        (
            "text_index_del (delete+compact lifecycle)",
            lambda: _stage_text_index_compacted(spark, sf_dir),
        ),
        ("ivfpq_index (ANN codebooks)", lambda: _stage_ivfpq_index(spark, sf_dir)),
        (
            "ivfpq_index_incr (incremental ANN)",
            lambda: _stage_ivfpq_index_incremental(spark, sf_dir),
        ),
        (
            "fingerprint_index (incremental dedup)",
            lambda: _stage_fingerprint_index(spark, sf_dir),
        ),
        (
            "lsh_bucket_index (incremental near-dup)",
            lambda: _stage_lsh_index(spark, sf_dir),
        ),
        (
            "copurchase_edges (bucketed graph)",
            lambda: _stage_copurchase_edges(spark, sf_dir),
        ),
        ("events_zordered (layout)", lambda: _stage_events_zordered(spark, sf_dir)),
        ("stream bronze (time-ordered)", lambda: _stage_events(spark, sf_dir)),
        ("documents.csv", lambda: _stage_documents(spark, sf_dir, "csv")),
        ("documents.jsonl", lambda: _stage_documents(spark, sf_dir, "jsonl")),
        ("documents.orc", lambda: _stage_documents(spark, sf_dir, "orc")),
    ]
    out = []
    for label, build in builders:
        t0 = time.time()
        build()
        out.append((label, time.time() - t0))
    return out
