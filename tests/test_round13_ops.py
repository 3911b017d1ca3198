"""Round-13 operator pins: perceptual-hash image dedup
(operators/multimodal.image_ahash + ahash_near_dup_pairs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_opendata_etl_spark.operators import multimodal as mm
from nyc_opendata_etl_spark.sources.batch_log import current_dir


def _expected_ahash(seed: int, w: int, h: int, grid: int = 8) -> int:
    """Pure-Python replay of the aHash closed form (independent of the
    kernel's code path — pixels come from the encoder's formula, not
    png_decode_gray)."""
    px = [(seed * 7 + i * 3) % 256 for i in range(w * h)]
    cells = [
        px[(r * h // grid) * w + (c * w // grid)]
        for r in range(grid)
        for c in range(grid)
    ]
    s = sum(cells)
    hv = 0
    for j, v in enumerate(cells):
        if v * len(cells) >= s:
            hv += -(1 << 63) if j == 63 else (1 << j)
    return hv


def test_image_ahash_known_values(spark):
    """Kernel hash == pure-Python closed-form replay for a spread of
    (seed, w, h) shapes incl. 1×1 (every grid cell samples the same
    pixel → all bits set → hash -1, the packed all-ones value)."""
    rows = [(0,), (1,), (7,), (250,), (123,)]
    df = spark.createDataFrame(rows, "doc_id long")
    got = {
        r["media_id"]: (r["width"], r["height"], r["ahash"])
        for r in mm.image_ahash(mm.synthesize_png_media(df)).collect()
    }
    for (i,) in rows:
        seed, w, h = i % 251, i % 13 + 1, i % 11 + 1
        assert got[i] == (w, h, _expected_ahash(seed, w, h)), i
    # 1×1 image: doc_id 0 → w=1, h=1 → all 64 cells equal → all bits
    assert got[0][2] == _expected_ahash(0, 1, 1) == -1


def _hashes_df(spark, rows):
    return spark.createDataFrame(rows, "media_id long, ahash long")


def test_ahash_pairs_collapse_first_and_verify(spark):
    """Hash-identical images collapse to one min-id rep (no pairs from
    a pure copy group); cross-hash pairs verify at bit_count(xor)."""
    df = _hashes_df(
        spark,
        [
            (10, 0b1111),      # rep of the {10, 11, 12} copy group
            (11, 0b1111),
            (12, 0b1111),
            (20, 0b1110),      # hamming 1 from the group hash
            (30, -1),          # far from everything
        ],
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in mm.ahash_near_dup_pairs(df, max_hamming=3, bands=4).collect()
    }
    # exactly one pair: group rep (10) vs 20; copies 11/12 never pair
    assert got == {(10, 20): 1}


def test_ahash_pairs_pigeonhole_recall_boundary(spark):
    """bands > max_hamming gives EXACT recall at the threshold: 3
    differing bits cannot break all 4 bands (pair found); 4 differing
    bits placed one per 16-bit band leave no matching band — correctly
    outside the family's guarantee AND outside the threshold."""
    base = 0
    three_bits = (1 << 0) | (1 << 16) | (1 << 32)          # 3 bands touched
    four_bits = (1 << 0) | (1 << 16) | (1 << 32) | (1 << 48)  # all 4
    df = _hashes_df(spark, [(1, base), (2, base | three_bits), (3, base | four_bits)])
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in mm.ahash_near_dup_pairs(df, max_hamming=3, bands=4).collect()
    }
    assert (1, 2) in got and got[(1, 2)] == 3
    assert (1, 3) not in got  # hamming 4 > threshold (and no shared band)
    # 2 vs 3 differ only in bit 48 → hamming 1, shares 3 bands
    assert got[(2, 3)] == 1


def test_ahash_pairs_rejects_bad_banding():
    with pytest.raises(ValueError):
        mm.ahash_near_dup_pairs(None, max_hamming=4, bands=4)


# ── passage-level retrieval (chunking × staged index, r13) ──────────


def test_bm25_passages_key_contract_and_passage_hits(spark, tmp_path):
    """The composite doc·2^20+chunk key round-trips at the boundary,
    and retrieval is genuinely passage-level: a long document with the
    query term in two different chunks yields two distinct passage
    hits for the same parent doc."""
    from nyc_opendata_etl_spark.operators import curation, text
    from nyc_opendata_etl_spark.queries.llm_ops import _CHUNK_KEY_BASE

    # 72 tokens: needle@0 + 70 fillers + needle@71 → two chunks
    # (chunk 0 = tokens 1-64, chunk 1 = tokens 57-72), one needle each
    filler = " ".join(f"w{i}" for i in range(70))
    docs = spark.createDataFrame(
        [
            (7, "needle " + filler + " needle"),
            (3, "nothing here"),
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "cidx")
    chunks = curation.chunk_documents(docs, chunk_tokens=64, overlap=8)
    keyed = chunks.select(
        (F.col("doc_id") * _CHUNK_KEY_BASE + F.col("chunk_id")).alias("doc_id"),
        F.col("chunk_text").alias("text"),
    )
    text.build_text_index(keyed, idx)
    hits = text.bm25_topk_indexed(spark, idx, ["needle"], k=10)
    rows = {
        (r["doc_id"] // _CHUNK_KEY_BASE, r["doc_id"] % _CHUNK_KEY_BASE)
        for r in hits.collect()
    }
    assert rows == {(7, 0), (7, 1)}
    # boundary: the largest in-budget chunk id survives the roundtrip
    key = 7 * _CHUNK_KEY_BASE + (_CHUNK_KEY_BASE - 1)
    assert (key // _CHUNK_KEY_BASE, key % _CHUNK_KEY_BASE) == (
        7,
        _CHUNK_KEY_BASE - 1,
    )


def test_ahash_clusters_membership_and_transitivity(spark):
    """Identical-hash groups cluster without any cross-hash pair; the
    closure is transitive across rep pairs (A~B, B~C, A far from C all
    land in one cluster); perceptually unique images are absent."""
    h1 = 0b0
    h2 = 0b1            # hamming 1 from h1
    h3 = 0b1111         # hamming 3 from h2, 4 from h1 (no direct pair)
    far = -1
    df = spark.createDataFrame(
        [(1, h1), (2, h1), (3, h2), (4, h3), (9, far)],
        "media_id long, ahash long",
    )
    got = {
        r["media_id"]: r["cluster_id"]
        for r in mm.ahash_clusters(df, max_hamming=3, bands=4).collect()
    }
    # 1,2 share a hash; 3 pairs with rep 1; 4 reaches 1 only through 3
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


# ── exactly-once streaming index maintenance (r14 staging) ──────────


def _idx_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _snap(spark, path):
    post = sorted(
        map(tuple, spark.read.parquet(f"{current_dir(path)}/postings").collect())
    )
    stats = sorted(map(tuple, spark.read.parquet(f"{current_dir(path)}/stats").collect()))
    return post, stats


def test_index_ingest_matches_from_scratch_build(spark, tmp_path):
    """Two micro-batches through the delta layout score bit-identically
    to bm25_topk_indexed over a from-scratch build_text_index of the
    union — including an empty-text and a NULL-text doc, which carry no
    postings but must count toward (n, sum_dl)."""
    from nyc_opendata_etl_spark.operators import text
    from nyc_opendata_etl_spark.streaming import index_ingest as ii

    b0 = _idx_docs(
        spark,
        [(0, "alpha beta alpha"), (1, "beta gamma"), (2, ""), (3, None)],
    )
    b1 = _idx_docs(spark, [(10, "alpha alpha gamma"), (11, "delta")])
    delta = str(tmp_path / "delta")
    ii.index_ingest_batch(b0, 0, delta)
    ii.index_ingest_batch(b1, 1, delta)
    scratch = str(tmp_path / "scratch")
    text.build_text_index(b0.unionByName(b1), scratch)
    got = sorted(
        map(
            tuple,
            ii.bm25_topk_delta(spark, delta, ["alpha", "gamma"]).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            text.bm25_topk_indexed(spark, scratch, ["alpha", "gamma"]).collect(),
        )
    )
    assert got == want and len(got) == 3
    # stats fold counts ALL six docs (incl. empty + NULL text)
    n = (
        spark.read.parquet(f"{current_dir(delta)}/stats")
        .agg(F.sum("n").alias("n"))
        .collect()[0]["n"]
    )
    assert n == 6


def test_index_ingest_replay_is_idempotent(spark, tmp_path):
    """Re-delivering a committed batch (failure-before-checkpoint
    scenario) rewrites exactly its own postings/stats partitions with
    identical content — unlike update_text_index's append mode, which
    a replay would double-count."""
    from nyc_opendata_etl_spark.streaming import index_ingest as ii

    delta = str(tmp_path / "idx")
    b0 = _idx_docs(spark, [(0, "alpha beta"), (1, "beta")])
    b1 = _idx_docs(spark, [(10, "alpha alpha")])
    ii.index_ingest_batch(b0, 0, delta)
    ii.index_ingest_batch(b1, 1, delta)
    before = _snap(spark, delta)
    probe_before = sorted(
        map(tuple, ii.bm25_topk_delta(spark, delta, ["alpha"]).collect())
    )
    ii.index_ingest_batch(b1, 1, delta)  # replay
    assert _snap(spark, delta) == before
    assert (
        sorted(map(tuple, ii.bm25_topk_delta(spark, delta, ["alpha"]).collect()))
        == probe_before
    )


def test_stream_index_ingest_end_to_end(spark, tmp_path):
    """True streaming drain: a file source delivering two ordered
    micro-batches through stream_index_ingest probes identically to a
    from-scratch batch build."""
    import os
    import time

    from nyc_opendata_etl_spark.operators import text
    from nyc_opendata_etl_spark.streaming import index_ingest as ii

    src = str(tmp_path / "src")
    docs = _idx_docs(
        spark, [(0, "alpha beta"), (1, "gamma alpha"), (2, "beta beta")]
    )
    os.makedirs(src)
    base = time.time()
    for i, half in enumerate(
        [docs.filter(F.col("doc_id") < 2), docs.filter(F.col("doc_id") >= 2)]
    ):
        scratch = str(tmp_path / f"scr{i}")
        half.coalesce(1).write.mode("overwrite").parquet(scratch)
        part = next(
            f for f in os.listdir(scratch) if f.startswith("part-")
        )
        dst = os.path.join(src, f"b{i}.parquet")
        os.replace(os.path.join(scratch, part), dst)
        t = base - (2 - i) * 1.0
        os.utime(dst, (t, t))
    delta = str(tmp_path / "delta")
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    ii.stream_index_ingest(
        stream,
        delta,
        query_name="iidx_test",
        checkpoint_location=str(tmp_path / "ckpt"),
    )
    scratch_idx = str(tmp_path / "scratch_idx")
    text.build_text_index(docs, scratch_idx)
    got = sorted(
        map(tuple, ii.bm25_topk_delta(spark, delta, ["alpha", "beta"]).collect())
    )
    want = sorted(
        map(
            tuple,
            text.bm25_topk_indexed(spark, scratch_idx, ["alpha", "beta"]).collect(),
        )
    )
    assert got == want and len(got) == 3
