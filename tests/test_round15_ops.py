"""Round-15 pins: the streaming cluster-map maintenance staged for
r16 and the compaction lifecycle of the incremental cluster index."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_opendata_etl_spark.sources.batch_log import current_dir


def _docs(spark, ids_texts):
    return spark.createDataFrame(list(ids_texts), "doc_id long, text string")


def _corpus():
    """A corpus with cross-half merge directions: identical-text
    groups spanning halves, near-dup chains, singletons."""
    w = [f"w{i}" for i in range(60)]
    ta = " ".join(w)
    tav = " ".join(w[:59] + ["zz"])  # near-dup of ta
    tb = " ".join(f"b{i}" for i in range(40))
    tc = " ".join(f"c{i}" for i in range(40))
    rows = []
    for i in range(24):
        if i % 6 == 0:
            rows.append((i, ta))
        elif i % 6 == 1:
            rows.append((i, tav))
        elif i % 6 == 2:
            rows.append((i, tb))
        elif i % 6 == 3:
            rows.append((i, f"{tc} tail{i}"))  # distinct unique texts
        elif i % 6 == 4:
            rows.append((i, tb))
        else:
            rows.append((i, f"solo{i} " + " ".join(f"s{i}_{j}" for j in range(30))))
    return rows


def test_stream_cluster_ingest_equals_from_scratch_and_replays_clean(
    spark, tmp_path
):
    """The streamed cluster map must equal (a) a from-scratch
    clustering of the full corpus and (b) the single-batch updater's
    result — 4 successive exactly-once folds lose nothing. A second
    drain over the SAME checkpoint re-delivers nothing and leaves
    every artifact relation byte-identical (offset-log replay
    safety)."""
    import os
    import time

    from nyc_opendata_etl_spark.operators import cluster_index as ci
    from nyc_opendata_etl_spark.operators.dedup import (
        duplicate_clusters_collapsed,
    )
    from nyc_opendata_etl_spark.streaming.cluster_ingest import (
        stream_cluster_ingest,
    )

    rows = _corpus()
    docs = _docs(spark, rows)
    even = docs.filter(F.col("doc_id") % 2 == 0)
    odd = docs.filter(F.col("doc_id") % 2 == 1)

    # id-ordered 4-file odd-half source with ascending mtimes
    src = str(tmp_path / "src")
    (
        odd.repartitionByRange(4, "doc_id")
        .sortWithinPartitions("doc_id")
        .write.parquet(src)
    )
    parts = sorted(f for f in os.listdir(src) if f.startswith("part-"))
    base = time.time()
    for i, p in enumerate(parts):
        t = base - (len(parts) - i) * 1.0
        os.utime(os.path.join(src, p), (t, t))

    path = str(tmp_path / "ci")
    ci.build_dup_cluster_index(even, path)
    ckpt = str(tmp_path / "ckpt")

    def drain(qname):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        stream_cluster_ingest(
            stream, path, query_name=qname, checkpoint_location=ckpt
        )

    drain("clidx_t1")
    got = sorted(map(tuple, ci.read_dup_clusters(spark, path).collect()))
    want = sorted(map(tuple, duplicate_clusters_collapsed(docs).collect()))
    assert got == want

    # equals the single-batch updater's result
    path2 = str(tmp_path / "ci_single")
    ci.build_dup_cluster_index(even, path2)
    ci.update_dup_cluster_index(spark, odd, path2, batch_id=0)
    single = sorted(map(tuple, ci.read_dup_clusters(spark, path2).collect()))
    assert got == single

    def snap():
        out = {
            rel: sorted(
                map(tuple, spark.read.parquet(f"{current_dir(path)}/{rel}").collect())
            )
            for rel in ("reps", "prefix", "members")
        }
        out["clusters"] = got
        return out

    before = snap()
    drain("clidx_t2")  # same checkpoint: nothing new to deliver
    assert snap() == before


def test_compact_dup_cluster_index_is_read_equivalent(spark, tmp_path):
    """Compaction folds every batch partition into the build partition
    and retires old cluster snapshots — reads (clusters AND the three
    log relations, modulo the relabeled batch column) are identical
    before/after, and a post-compaction update produces the same map
    a never-compacted artifact would."""
    from nyc_opendata_etl_spark.operators import cluster_index as ci

    rows = _corpus()
    docs = _docs(spark, rows)

    def build_two_batches(path):
        ci.build_dup_cluster_index(docs.filter(F.col("doc_id") % 3 == 0), path)
        ci.update_dup_cluster_index(
            spark, docs.filter(F.col("doc_id") % 3 == 1), path, batch_id=0
        )

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    build_two_batches(a)
    build_two_batches(b)

    def rel_rows(path, rel):
        return sorted(
            map(tuple, spark.read.parquet(f"{current_dir(path)}/{rel}").drop("b").collect())
        )

    pre = {rel: rel_rows(a, rel) for rel in ("reps", "prefix", "members")}
    pre["clusters"] = sorted(
        map(tuple, ci.read_dup_clusters(spark, a).collect())
    )
    ci.compact_dup_cluster_index(spark, a)
    post = {rel: rel_rows(a, rel) for rel in ("reps", "prefix", "members")}
    post["clusters"] = sorted(
        map(tuple, ci.read_dup_clusters(spark, a).collect())
    )
    assert post == pre
    # single surviving cluster version; logs hold only the build batch
    import os

    vdirs = [d for d in os.listdir(f"{current_dir(a)}/clusters") if d.startswith("v=")]
    assert len(vdirs) == 1
    bdirs = {d for d in os.listdir(f"{current_dir(a)}/reps") if d.startswith("b=")}
    assert bdirs == {f"b={ci.BUILD_BATCH}"}

    last = docs.filter(F.col("doc_id") % 3 == 2)
    ci.update_dup_cluster_index(spark, last, a, batch_id=1)
    ci.update_dup_cluster_index(spark, last, b, batch_id=1)
    assert sorted(map(tuple, ci.read_dup_clusters(spark, a).collect())) == sorted(
        map(tuple, ci.read_dup_clusters(spark, b).collect())
    )


def test_ivfpq_takedown_removes_codes_and_keeps_quantizers(spark, tmp_path):
    """Direct takedown pin (the oracle match proves output parity;
    this pins the MECHANISM): after compact_ivfpq_index(delete_ids),
    no deleted id survives anywhere in codes/, surviving code rows are
    byte-identical to before, and centroids/codebook/params are
    untouched — the FAISS remove_ids() contract."""
    from pyspark.sql import functions as F

    from nyc_opendata_etl_spark.operators import similarity
    from nyc_opendata_etl_spark.operators.index_maintenance import (
        compact_ivfpq_index,
    )
    from nyc_opendata_etl_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "idx")
    similarity.build_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 0), path)
    similarity.update_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 1), path)

    pre = spark.read.parquet(f"{current_dir(path)}/codes")
    pre_rows = {(r.id, r.m, r.code) for r in pre.collect()}
    pre_quant = {
        rel: sorted(map(tuple, spark.read.parquet(f"{current_dir(path)}/{rel}").collect()))
        for rel in ("centroids", "codebook", "params")
    }

    deleted = emb.filter(F.col("vec_id") % 7 == 3).select(
        F.col("vec_id").alias("id")
    )
    del_ids = {r.id for r in deleted.collect()}
    assert del_ids, "fixture must delete something"
    compact_ivfpq_index(spark, path, delete_ids=deleted)

    post = spark.read.parquet(f"{current_dir(path)}/codes")
    post_rows = {(r.id, r.m, r.code) for r in post.collect()}
    assert not ({i for i, _, _ in post_rows} & del_ids)
    assert post_rows == {t for t in pre_rows if t[0] not in del_ids}
    post_quant = {
        rel: sorted(map(tuple, spark.read.parquet(f"{current_dir(path)}/{rel}").collect()))
        for rel in ("centroids", "codebook", "params")
    }
    assert post_quant == pre_quant


def test_ahash_recursive_guard_randomized_recall_property(spark):
    """Property sweep for the recursive guard: across seeded random
    corpora (mixed concentration shapes), every (cap, depth) setting
    returns exactly the brute-force pair set — recall never depends on
    the hot/cold routing or the recursion depth."""
    import random

    from nyc_opendata_etl_spark.operators.multimodal import ahash_near_dup_pairs
    from tests.test_round14_ops import _brute_pairs

    def to_long(v):
        return v - (1 << 64) if v >= (1 << 63) else v

    for seed in (7, 99):
        rnd = random.Random(seed)
        hashes = {}
        mid = 0
        base = rnd.getrandbits(64)
        for _ in range(120):  # concentrated: share a random band-0 value
            hashes[mid] = (rnd.getrandbits(48) << 16) | (base & 0xFFFF)
            mid += 1
        for _ in range(120):  # diffuse
            hashes[mid] = rnd.getrandbits(64)
            mid += 1
        for _ in range(30):  # engineered near-dups of random members
            src = rnd.choice(list(hashes.values()))
            flips = rnd.sample(range(64), rnd.randint(1, 4))
            h = src
            for b in flips:
                h ^= 1 << b
            hashes[mid] = h
            mid += 1
        df = spark.createDataFrame(
            [(m, to_long(h)) for m, h in hashes.items()],
            "media_id long, ahash long",
        )
        expected = _brute_pairs({m: to_long(h) for m, h in hashes.items()}, 3)
        for cap, depth in ((10, 1), (10, 3), (64, 2), (10**9, 2)):
            got = sorted(
                map(
                    tuple,
                    ahash_near_dup_pairs(
                        df, hot_bucket_cap=cap, refine_levels=depth
                    ).collect(),
                )
            )
            assert got == expected, (seed, cap, depth)
