"""Round-16 pins for the ADVICE r15 hardening of the incremental
cluster-map artifact: out-of-order batch ids fail loudly (item 1) and
a stale re-stage always starts from an empty artifact (item 3). Item
2, compaction landing pointer and snapshot together, is the commit's
(tests/test_batch_log.py interrupts it at every step)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nyc_opendata_etl_spark.sources.batch_log import current_dir
from tests.test_round15_ops import _corpus, _docs


def test_update_rejects_out_of_order_batch_ids(spark, tmp_path):
    """ADVICE r15 item 1: a batch id BELOW an already-applied batch
    would dynamic-overwrite that batch's log partitions with different
    content and move _CURRENT backwards to a stale snapshot — it must
    raise. Equality with the max applied batch is a legal REPLAY
    (streaming epoch re-delivery) and must leave the artifact
    byte-identical."""
    from nyc_opendata_etl_spark.operators import cluster_index as ci

    docs = _docs(spark, _corpus())
    path = str(tmp_path / "ci")
    ci.build_dup_cluster_index(docs.filter(F.col("doc_id") % 3 == 0), path)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    b2 = docs.filter(F.col("doc_id") % 3 == 2)
    ci.update_dup_cluster_index(spark, b1, path, batch_id=0)
    ci.update_dup_cluster_index(spark, b2, path, batch_id=1)

    def snap():
        out = {
            rel: sorted(
                map(tuple, spark.read.parquet(f"{current_dir(path)}/{rel}").collect())
            )
            for rel in ("reps", "prefix", "members")
        }
        out["clusters"] = sorted(
            map(tuple, ci.read_dup_clusters(spark, path).collect())
        )
        return out

    before = snap()
    # out-of-order: below the max applied batch → loud failure, no writes
    with pytest.raises(ValueError, match="non-decreasing"):
        ci.update_dup_cluster_index(spark, b1, path, batch_id=0)
    assert snap() == before
    # equality: legal replay of the latest batch → byte-identical rewrite
    ci.update_dup_cluster_index(spark, b2, path, batch_id=1)
    assert snap() == before


def test_stale_cluster_stream_restage_starts_empty(spark):
    """ADVICE r15 item 3: build_dup_cluster_index only overwrites
    b=-1/v=-1 partitions, so a stale re-stage (corpus change or crashed
    drain) must rmtree first — otherwise prior b>=0 log partitions and
    v>=0 snapshots survive and poison later higher-batch updates. Pin:
    poison the staged artifact with a fake high-batch partition, drop
    the done-marker, re-stage, and require the poison gone and the
    clusters identical to the pre-poison map."""
    from nyc_opendata_etl_spark.operators import cluster_index as ci
    from nyc_opendata_etl_spark.queries.maintenance import (
        _stage_cluster_stream,
    )

    sf = "/root/testdata/sf0.001"
    path = _stage_cluster_stream(spark, sf)
    want = sorted(map(tuple, ci.read_dup_clusters(spark, path).collect()))

    poison = os.path.join(path, "reps", "b=99")
    os.makedirs(poison, exist_ok=True)
    with open(os.path.join(poison, "junk"), "w") as fh:
        fh.write("poison")
    os.remove(os.path.join(path, "_STREAM_DONE"))  # simulate crashed drain

    path2 = _stage_cluster_stream(spark, sf)
    assert path2 == path
    assert not os.path.exists(poison)
    assert os.path.exists(os.path.join(path, "_STREAM_DONE"))
    got = sorted(map(tuple, ci.read_dup_clusters(spark, path).collect()))
    assert got == want


def test_ivfpq_build_write_parallelizes_past_one_task_per_cell(
    spark, tmp_path
):
    """r16 (VERDICT r15 item 5 / r14 NOTES item 16): the pre-write
    exchange of the cell-partitioned codes layout must not serialize
    onto n_centroids tasks. The salted repartition spreads each cell's
    rows over a deterministic id-derived bucket, so (a) the planned
    exchange keys exceed the centroid count at this parallelism and
    (b) at least one cell directory lands >1 data file — while the
    probe math (oracle-checked elsewhere) and the pruned directory
    layout are unchanged."""
    import os

    from nyc_opendata_etl_spark.operators import similarity
    from nyc_opendata_etl_spark.sources.tables import load_table

    par = spark.sparkContext.defaultParallelism
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    # cell count below the session's parallelism on any host, so the
    # salt always engages
    n_cells = max(1, par // 2)
    assert par > n_cells, "test needs parallelism above the cell count"

    # the adversarial shape the hash salt exists for: cells assigned by
    # id arithmetic, which a modulo salt would collapse into (a modulo
    # salt here is constant per cell — exactly one key per cell again)
    cells = emb.selectExpr(
        "vec_id as id", f"cast(vec_id % {n_cells} as int) as cid"
    )
    n_salt = -(-2 * par // n_cells)
    keys = cells.select(
        "cid", F.pmod(F.xxhash64("id"), F.lit(n_salt)).alias("s")
    ).distinct()
    assert keys.count() > n_cells  # exchange no longer one-key-per-cell

    # AQE rightly coalesces the KB-sized test shuffle back to one task
    # (at real scale the partitions stay separate); switch coalescing
    # off here to observe the physical spread the salt buys.
    idx = str(tmp_path / "ivfpq_index")
    coalesce_conf = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_conf, "true")
    spark.conf.set(coalesce_conf, "false")
    try:
        similarity.build_ivfpq_index(emb, idx, n_centroids=n_cells)
    finally:
        spark.conf.set(coalesce_conf, prev)
    per_cell = []
    codes = os.path.join(current_dir(idx), "codes")
    for d in os.listdir(codes):
        if d.startswith("cid="):
            per_cell.append(
                sum(
                    1
                    for f in os.listdir(os.path.join(codes, d))
                    if f.startswith("part-")
                )
            )
    assert max(per_cell) > 1  # some cell's rows came from several tasks


def test_ivfpq_retrain_heals_drift_and_swaps_atomically(spark, tmp_path):
    """Mechanism pins for retrain_ivfpq_index (the oracle match proves
    output parity; this pins HOW): (a) drift is real — the pre-retrain
    incremental index's quantizers differ from a fresh full-corpus
    build's; (b) retrain recomputes them — post-retrain centroids,
    codebook, codes, and params all equal the fresh build's exactly;
    (c) params keep the recorded configuration. That readers never mix
    quantizers and codes across versions is the commit's, interrupted
    at every step in tests/test_batch_log.py."""
    from nyc_opendata_etl_spark.operators import similarity
    from nyc_opendata_etl_spark.operators.index_maintenance import (
        retrain_ivfpq_index,
    )
    from nyc_opendata_etl_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")

    drifted = str(tmp_path / "drifted")
    similarity.build_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 0), drifted)
    similarity.update_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 1), drifted)
    fresh = str(tmp_path / "fresh")
    similarity.build_ivfpq_index(emb, fresh)

    def rel(path, name):
        return sorted(map(tuple, spark.read.parquet(f"{current_dir(path)}/{name}").collect()))

    # (a) the drift exists: even-half quantizers != full-corpus quantizers
    assert rel(drifted, "centroids") != rel(fresh, "centroids")

    retrain_ivfpq_index(spark, emb, drifted)

    # (b) retrain == fresh build, relation for relation
    for name in ("centroids", "codebook", "codes", "params"):
        assert rel(drifted, name) == rel(fresh, name), name

    # (c) params preserved the recorded configuration
    p = spark.read.parquet(f"{current_dir(drifted)}/params").first()
    assert (p["n_centroids"], p["m"], p["d_sub"], p["n_codes"]) == (16, 8, 8, 16)


def test_shard_epoch_is_a_seeded_permutation(spark):
    """shard_epoch contract pins: (a) (shard, pos) is a bijection over
    the corpus — every doc appears once, positions are 1..n_s dense per
    shard; (b) the same seed reproduces the identical assignment under
    a different input partitioning (determinism law); (c) a different
    seed yields a different permutation (it IS an epoch re-shuffle)."""
    from nyc_opendata_etl_spark.operators.curation import shard_epoch

    from nyc_opendata_etl_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    n = docs.count()
    out = shard_epoch(docs, seed=42, n_shards=8)
    rows = out.collect()
    assert len(rows) == n
    assert len({r.doc_id for r in rows}) == n
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), shard

    again = shard_epoch(docs.repartition(7), seed=42, n_shards=8).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))

    other = shard_epoch(docs, seed=43, n_shards=8).collect()
    assert sorted(map(tuple, rows)) != sorted(map(tuple, other))


def test_knn_join_is_cell_pruned_and_self_free(spark):
    """Mechanism pins for similarity.knn_join (the oracle match in
    test_registry_lint::test_query_matches_its_oracle proves parity;
    this pins HOW): (a) the plan contains NO CartesianProduct — the
    only cross joins are against the broadcast C-row centroid relation,
    so candidate volume is cell-pruned, never Q×N; (b) a query drawn
    from the corpus never matches itself; (c) rk is dense 1..≤k per
    query; (d) the result is invariant under input repartitioning
    (determinism law)."""
    from nyc_opendata_etl_spark.operators.similarity import knn_join
    from nyc_opendata_etl_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") % 20 == 3)
    out = knn_join(emb, q, n_centroids=64, n_probe=2, k=5)
    assert "CartesianProduct" not in out._jdf.queryExecution().executedPlan().toString()
    rows = out.collect()
    assert rows
    by_q = {}
    for r in rows:
        assert r.query_id % 20 == 3
        assert r.vec_id != r.query_id
        by_q.setdefault(r.query_id, []).append(r.rk)
    for qid, rks in by_q.items():
        assert sorted(rks) == list(range(1, len(rks) + 1)), qid
        assert len(rks) <= 5
    again = knn_join(
        emb.repartition(7), q.repartition(3), n_centroids=64, n_probe=2, k=5
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # the declarative expr kernel and the cogrouped-GEMM kernel are
    # the SAME operator — identical rows, including 6-dp rounding and
    # the smaller-id tie-break
    expr = knn_join(
        emb, q, n_centroids=64, n_probe=2, k=5, kernel="expr"
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, expr))


def test_decontaminate_semantic_broadcasts_eval_and_breaks_ties_low(spark):
    """Mechanism pins for curation.decontaminate_semantic: (a) the
    train side NEVER shuffles and never joins — the eval matrix rides
    a broadcast variable into one mapInPandas scan, so the plan
    contains no join and no Exchange at all; (b) duplicate
    equal-similarity eval vectors resolve best_eval_id to the SMALLER
    id; (c) hits below threshold drop, and hit counting is per eval
    row, not per distinct similarity; (d) zero-norm vectors never
    hit (NULL-cosine contract)."""
    from nyc_opendata_etl_spark.operators.curation import decontaminate_semantic

    schema = "vec_id long, embedding array<float>"
    train = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.6, 0.8]), (4, [0.0, 0.0])],
        schema,
    )
    ev = spark.createDataFrame(
        [(20, [1.0, 0.0]), (10, [1.0, 0.0]), (30, [0.0, 1.0]), (40, [0.0, 0.0])],
        schema,
    )
    out = decontaminate_semantic(train, ev, threshold=0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan
    got = {r.vec_id: (r.n_eval_hits, r.max_cosine, r.best_eval_id) for r in out.collect()}
    # train 1 ≡ eval 10/20 (sim 1.0 twice): two hits, tie → smaller id
    assert got[1] == (2, 1.0, 10)
    # train 2 ≡ eval 30 only (sim to 10/20 is 0.0 < threshold)
    assert got[2] == (1, 1.0, 30)
    # train 3: sim 0.6 to 10/20, 0.8 to 30 — all ≥ 0.5, best is 30
    assert got[3] == (3, 0.8, 30)
    # train 4 is zero-norm: no row, despite the zero-norm eval 40
    assert 4 not in got and len(got) == 3


def test_knn_label_votes_labeled_neighbors_with_low_tie(spark):
    """knn_label mechanism pins on a constructed corpus: (a) votes
    count LABELED neighbors only and n_neighbors excludes NULL-label
    rows; (b) a vote tie resolves pred_label to the SMALLER label;
    (c) the composition agrees with hand-computed majority on a
    separable corpus."""
    from nyc_opendata_etl_spark.operators.similarity import knn_label

    schema = "vec_id long, embedding array<float>, label int"
    # two clean clusters on orthogonal axes; centroids = ids 0,1
    rows = [
        (0, [1.0, 0.0], 7),
        (1, [0.0, 1.0], 9),
        (2, [0.9, 0.1], 7),
        (3, [0.8, 0.2], 5),          # minority label in cluster A
        (4, [0.95, 0.05], None),     # unlabeled — must not vote
        (5, [0.1, 0.9], 9),
        (6, [0.2, 0.8], 9),
        (100, [0.85, 0.15], None),   # query: lands in cluster A
        (101, [0.15, 0.85], None),   # query: lands in cluster B
    ]
    emb = spark.createDataFrame(rows, schema)
    q = emb.filter(F.col("vec_id") >= 100)
    out = {
        r.query_id: (r.pred_label, r.votes, r.n_neighbors)
        for r in knn_label(
            emb, q, n_centroids=2, n_probe=1, k=4, exclude_self=True
        ).collect()
    }
    # query 100 probes cluster A: neighbors 0,2,3,4 (4 is unlabeled)
    # → labels {7:2, 5:1}: pred 7, votes 2, n_neighbors 3
    assert out[100] == (7, 2, 3)
    # query 101 probes cluster B: neighbors 1,5,6 → 9 unanimous
    assert out[101] == (9, 3, 3)

    # tie case: drop doc 2 so cluster A votes {7:1, 5:1} → smaller label 5
    emb2 = spark.createDataFrame([r for r in rows if r[0] != 2], schema)
    out2 = {
        r.query_id: (r.pred_label, r.votes, r.n_neighbors)
        for r in knn_label(
            emb2, emb2.filter(F.col("vec_id") == 100),
            n_centroids=2, n_probe=1, k=4, exclude_self=True,
        ).collect()
    }
    assert out2[100] == (5, 1, 2)
