"""Similarity search over embedding columns (ArrayType(FloatType)).

Brute-force cosine top-k is the exact baseline; the LSH-bucketed variant
is the 100 TB scale path (candidate generation via random-hyperplane
sign buckets → per-bucket exact re-rank, avoiding the full cross
product).

All math is double-precision sequential left-folds (F.aggregate /
zip_with) so the oracle (DuckDB list_* functions, same fold order)
matches bit-for-bit before rounding.

On HNSW (documented non-goal): graph ANN builds a navigable small-world
graph and answers queries by greedy pointer-chasing — state that lives
naturally in one process's RAM and degrades badly when hops cross
executor boundaries. The warehouse-native scale path is the staged
IVF-PQ index this module ships (coarse cells prune statically at the
scan, PQ codes shrink the re-rank set, both mergeable/partitionable);
a deployment wanting HNSW latency puts the SERVING index in a vector
store and uses these operators for the build/refresh pipeline, which
is the part that belongs on Spark.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nyc_opendata_etl_spark.sources.batch_log import commit, current_dir


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm2(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity, NULL on a zero-norm side (round-11 review):
    the bare division yields NaN there, and Spark orders NaN ABOVE
    every real double, so one garbage all-zeros vector would rank
    first in every desc top-k and a zero-norm centroid would capture
    the whole corpus in the IVF argmax. NULL instead sorts last under
    desc, fails every >= threshold filter, and loses every
    max(struct) — the semantics each call site wants. The DuckDB twin
    (_cos_sql) applies the same nullif guard."""
    return dot(a, b) / F.nullif(norm2(a) * norm2(b), F.lit(0.0))


def cosine_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k neighbors of one stored vector by cosine similarity.

    The 1-row query side is broadcast; the big side is scanned once with
    the similarity computed in-stage (no shuffle except the final top-k,
    which plans as TakeOrderedAndProject).
    """
    q = embeddings.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("__q_vec__")
    )
    scored = (
        embeddings.filter(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), F.col("__q_vec__")), round_digits).alias(
                "cosine_sim"
            ),
        )
    )
    return scored.orderBy(F.col("cosine_sim").desc(), F.col(id_col)).limit(k)


def lsh_bucket(vec: Column, hyperplanes: list[list[float]]) -> Column:
    """Random-hyperplane (SimHash-style) LSH bucket id: sign bit per
    hyperplane, packed into a long. Deterministic given the plane list.
    1–63 planes: 0 planes is meaningless (and crashed at bits[0]),
    and 64 would need bit 63 — the long sign bit — breaking the
    long-keyed bucket contract."""
    if not 1 <= len(hyperplanes) <= 63:
        raise ValueError(
            f"lsh_bucket needs 1..63 hyperplanes, got {len(hyperplanes)}"
        )
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(
                    vec,
                    F.array(*[F.lit(float(w)) for w in plane]),
                    lambda x, w: x.cast("double") * w,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            >= 0,
            F.lit(1 << i),
        ).otherwise(F.lit(0))
        for i, plane in enumerate(hyperplanes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def _chunked_sim_pairs(
    ids,
    mat,
    threshold: float,
    round_digits: int,
    chunk_target_bytes: int = 1 << 29,
    cross_only_blks=None,
):
    """Emit (id_a, id_b, sim) for every ordered pair (ids[i] < ids[j])
    with rounded cosine ≥ threshold, WITHOUT materializing the full
    |b|×|b| similarity matrix.

    The belt-and-braces kernel for huge NON-identical buckets (the
    identical-vector case is handled upstream by exact collapse): the
    matmul runs in row chunks sized so each chunk's float64 sims slab
    stays under ``chunk_target_bytes`` (default 512 MiB), making
    per-task memory O(chunk · |b| · 8) instead of O(|b|²·8) — a 500k-row
    bucket peaks at ~0.5 GB per slab instead of the 2 TB full matrix.
    Each dot product is the same float64 GEMM accumulation whichever
    chunk its row lands in, so the emitted set is identical to the
    one-shot matmul (pinned by tests/test_round7b_ops.py).

    ``cross_only_blks`` (optional int array aligned with ``ids``):
    additionally require the pair to span two DIFFERENT block values —
    the off-diagonal filter of the blocked all-pairs kernel
    (:func:`cosine_neardup_pairs`), applied per chunk so the blocked
    caller shares this memory contract instead of materializing its
    own |group|² slab.

    Returns (id_a, id_b, sim) numpy arrays.
    """
    import numpy as np

    n = len(ids)
    norms = np.sqrt((mat * mat).sum(axis=1))
    # chunk rows so chunk*n float64 ≈ chunk_target_bytes (≥64 rows so
    # tiny targets cannot degrade to row-at-a-time)
    chunk = max(64, int(chunk_target_bytes // max(1, n * 8)))
    out_a, out_b, out_s = [], [], []
    for lo in range(0, n, chunk):
        hi = min(lo + chunk, n)
        sims = mat[lo:hi] @ mat.T
        sims /= np.outer(norms[lo:hi], norms)
        np.round(sims, round_digits, out=sims)
        keep = (sims >= threshold) & (ids[lo:hi, None] < ids[None, :])
        if cross_only_blks is not None:
            keep &= cross_only_blks[lo:hi, None] != cross_only_blks[None, :]
        ai, bj = np.nonzero(keep)
        out_a.append(ids[lo:hi][ai])
        out_b.append(ids[bj])
        out_s.append(sims[ai, bj])
    return (
        np.concatenate(out_a) if out_a else np.empty(0, dtype=np.int64),
        np.concatenate(out_b) if out_b else np.empty(0, dtype=np.int64),
        np.concatenate(out_s) if out_s else np.empty(0, dtype=np.float64),
    )


def cosine_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    n_blocks: int = 8,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (id_a < id_b,
    cosine ≥ threshold) — the distributed brute-force baseline.

    Shape: **blocked all-pairs**, fully distributed — nothing is ever
    collected to the driver. Rows hash into ``n_blocks`` blocks; each row
    is replicated to every unordered block *pair* it participates in
    (replication factor = n_blocks), and each (i, j) group computes one
    float64 numpy matmul over its ≤ 2·n/B rows via ``applyInPandas``.
    Same-block pairs are emitted only by the diagonal group (i == i) and
    cross-block pairs only off-diagonal, so every unordered row pair is
    scored exactly once. Per-task memory is (2n/B)·d·8 bytes — at scale
    you raise ``n_blocks`` so a block pair fits an executor; total work
    stays the inherent O(n²) flops of *exact* all-pairs, but spread over
    B·(B+1)/2 independent tasks with a uniform hash key (no skew, no
    driver bottleneck). The sub-quadratic path is :func:`lsh_neardup_pairs`.

    Math matches the DuckDB oracle form dot/(|a|·|b|) in float64, so
    values agree to rounding; blocking never changes the result set.
    """
    import numpy as np
    import pandas as pd

    B = max(1, int(n_blocks))
    b = embeddings.select(
        F.col(id_col), F.col(vec_col), F.pmod(F.hash(F.col(id_col)), F.lit(B)).alias("__blk__")
    )
    replicated = (
        b.withColumn("__other__", F.explode(F.sequence(F.lit(0), F.lit(B - 1))))
        .withColumn("__pi__", F.least("__blk__", "__other__"))
        .withColumn("__pj__", F.greatest("__blk__", "__other__"))
        .select(id_col, vec_col, "__blk__", "__pi__", "__pj__")
    )

    def score_pair(key, pdf):
        # round-11 review fix: this previously materialized the full
        # |group|² float64 slab (mat @ mat.T + np.outer + a round
        # copy) — ~80 GB×3 for a 100k-row group, violating the
        # documented (2n/B)·d·8 contract. The shared chunked kernel
        # bounds the slab at chunk·|group|·8 (≤512 MiB) and emits the
        # identical pair set; same-block pairs are masked per chunk
        # for off-diagonal groups (they belong to the diagonal group).
        i, j = int(key[0]), int(key[1])
        ids = pdf[id_col].to_numpy()
        blks = pdf["__blk__"].to_numpy()
        mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        a, b2, s = _chunked_sim_pairs(
            ids,
            mat,
            threshold,
            round_digits,
            cross_only_blks=blks if i != j else None,
        )
        return pd.DataFrame({"id_a": a, "id_b": b2, "cosine_sim": s})

    out_schema = "id_a long, id_b long, cosine_sim double"
    return replicated.groupBy("__pi__", "__pj__").applyInPandas(score_pair, out_schema)


def ann_ivf_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    n_centroids: int = 16,
    n_probe: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate NN via an IVF (inverted-file) index.

    Coarse quantizer: ``n_centroids`` deterministic seed centroids (the
    lowest-id vectors — a stand-in for k-means, which would be iterative
    and seeded). Every vector is assigned to its nearest centroid by
    cosine via the shared :func:`_ivf_assign` max(struct) aggregate
    (round 11 — the previous row_number window shuffled all N×C scored
    rows and sorted per vector; the aggregate combines map-side and
    shuffles ~N rows, and ``keep_vec`` carries the vector through so
    no join-back is needed). The query probes its ``n_probe`` nearest
    cells — scored against the C-row centroid relation only, never
    re-derived from the full N×C relation — and re-ranks exactly
    within them. At 100 TB the cell assignment is a write-time
    partitioning (cluster-by centroid_id), so a query touches
    n_probe/n_centroids of the data — the standard IVF trade.
    """
    cents = embeddings.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
    )
    assigned = _ivf_assign(
        embeddings, n_centroids, id_col, vec_col, keep_vec=True
    ).withColumnRenamed("id", id_col)
    q = embeddings.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("__q_vec__")
    )
    probes = (
        cents.crossJoin(F.broadcast(q))
        .withColumn("__qsim__", cosine(F.col("cvec"), F.col("__q_vec__")))
        .orderBy(F.col("__qsim__").desc(), "cid")
        .limit(n_probe)
        .select(F.col("cid").alias("__probe_cell__"))
    )
    candidates = (
        assigned.join(
            F.broadcast(probes),
            assigned["cid"] == F.col("__probe_cell__"),
        )
        .filter(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(q))
    )
    scored_c = candidates.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col("__q_vec__")), 6).alias("cosine_sim"),
    )
    return scored_c.orderBy(F.col("cosine_sim").desc(), F.col(id_col)).limit(k)


def ann_lsh_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    hyperplanes: list[list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate NN: bucket both sides by hyperplane signs, re-rank
    exactly only within the query's bucket. At scale this prunes the
    candidate set by ~2^n_planes; recall is traded via n_planes."""
    bucketed = embeddings.withColumn("__bucket__", lsh_bucket(F.col(vec_col), hyperplanes))
    q = bucketed.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("__q_vec__"), F.col("__bucket__").alias("__q_bucket__")
    )
    candidates = bucketed.join(
        F.broadcast(q), F.col("__bucket__") == F.col("__q_bucket__")
    ).filter(F.col(id_col) != query_vec_id)
    scored = candidates.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col("__q_vec__")), 6).alias("cosine_sim"),
    )
    return scored.orderBy(F.col("cosine_sim").desc(), F.col(id_col)).limit(k)


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    n_probe: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    kernel: str = "gemm",
) -> DataFrame:
    """Batched IVF k-NN JOIN: every row of ``queries`` gets its top-k
    cosine neighbors from ``corpus``, candidates restricted to each
    query's ``n_probe`` nearest coarse cells. The single-probe forms
    (:func:`ann_ivf_topk`, :func:`ivfpq_topk_indexed`) answer one
    query per job; a pipeline deduping a new crawl against a benchmark
    suite, mining hard negatives, or k-NN-labeling a corpus asks
    MILLIONS of queries at once, and running the per-query operator in
    a loop re-scans the corpus per query. This is the amortized form:

    - corpus→cell assignment (:func:`_ivf_assign`, one broadcast N×C
      scoring pass, ~N combined rows shuffled) happens ONCE and is
      shared by every query — at 100 TB it is the write-time
      cluster-by the staged IVF index already materializes;
    - query→probe-cell selection is a per-query ``slice(sort_array)``
      over the C broadcast-scored centroid rows — an aggregate with
      map-side partials (Q rows shuffle, each carrying ≤n_probe cell
      ids), never a Q×C window sort;
    - candidate scoring touches only the Q·N·(n_probe/C) cell-pruned
      pairs — the IVF trade — never Q·N;
    - per-query top-k is one ``row_number`` window partitioned by
      query id.

    Two scoring kernels, identical output (pinned):

    ``kernel="gemm"`` (default): probes and assigned corpus co-group
    on the cell id and each cell scores as ONE float64 GEMM of
    unit-normalized matrices (Q_c × N_c), keeping only each query's
    per-cell top-k — ≤ n_probe·k rows per query reach the final
    window, so the wide top-k window sorts a bounded relation. The
    corpus shuffles once on cid (at 100 TB the staged IVF layout is
    already cell-partitioned, making that exchange a read). 24 s
    sweep-protocol wall at the 100× replica's 10k×200k-probe
    workload.

    ``kernel="expr"``: the declarative reference — candidate join
    ``probes ⋈ assigned ON cid`` with no hint on either side (AQE
    broadcasts the probe side while it is small; an SF-scaling query
    set degrades to a hash join instead of an OOM), per-pair
    :func:`cosine` fold, full-candidate top-k window. Same plan shape
    Catalyst would derive from SQL; 76 s on the same workload — the
    fold + the Q·N·(n_probe/C)-row window sort are the gap the GEMM
    kernel closes.

    Each corpus vector lives in exactly one cell (argmax assignment),
    so no candidate pair is generated twice and no distinct/dedup pass
    is needed. Zero-norm vectors drop on both sides (NULL-cosine
    contract of :func:`cosine`): ``_ivf_assign`` drops them from the
    corpus, the explicit ``isNotNull`` drops them from the query side.
    ``exclude_self`` removes the trivial self-match when the query set
    is a subset of the corpus (same id space). Rounding to 6 dp
    happens BEFORE ranking in both kernels (ties then break on the
    smaller corpus id), so both match the sequential-fold oracle.

    Returns (query_id, ``id_col``, cosine_sim, rk) with rk in 1..k.
    """
    from pyspark.sql.window import Window

    cents = corpus.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
    )
    assigned = _ivf_assign(corpus, n_centroids, id_col, vec_col, cents=cents, keep_vec=True)
    qscored = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec__"))
        .crossJoin(F.broadcast(cents))
        .withColumn("__qsim__", cosine(F.col("__qvec__"), F.col("cvec")))
        .filter(F.col("__qsim__").isNotNull())
    )
    probes = (
        qscored.groupBy("query_id")
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_list(
                        F.struct((-F.col("__qsim__")).alias("nsim"), F.col("cid"))
                    )
                ),
                1,
                n_probe,
            ).alias("__cells__"),
            # every pre-agg row of a query carries the same vector, so
            # first() is deterministic here
            F.first("__qvec__").alias("__qvec__"),
        )
        .select("query_id", "__qvec__", F.explode(F.col("__cells__.cid")).alias("cid"))
    )
    if kernel == "expr":
        cand = probes.join(assigned, "cid")
        if exclude_self:
            cand = cand.filter(F.col("query_id") != F.col("id"))
        scored = cand.select(
            "query_id",
            F.col("id").alias(id_col),
            F.round(cosine(F.col(vec_col), F.col("__qvec__")), 6).alias("cosine_sim"),
        )
    elif kernel == "gemm":
        excl = bool(exclude_self)
        kk = int(k)
        out_schema = f"query_id long, {id_col} long, cosine_sim double"

        def cell_topk(key, qpdf, apdf):
            import numpy as np
            import pandas as pd

            if len(qpdf) == 0 or len(apdf) == 0:
                return pd.DataFrame(
                    {"query_id": [], id_col: [], "cosine_sim": []}
                )
            q_ids = qpdf["query_id"].to_numpy(dtype=np.int64)
            a_ids = apdf["id"].to_numpy(dtype=np.int64)
            qm = np.asarray(
                [np.asarray(v) for v in qpdf["__qvec__"]], dtype=np.float64
            )
            am = np.asarray(
                [np.asarray(v) for v in apdf[vec_col]], dtype=np.float64
            )
            # both sides are zero-norm-free by construction (assignment
            # drops NULL-best corpus rows, probing drops NULL-sim queries)
            qm /= np.sqrt((qm * qm).sum(axis=1))[:, None]
            am /= np.sqrt((am * am).sum(axis=1))[:, None]
            sims = qm @ am.T
            np.round(sims, 6, out=sims)
            sims += 0.0  # fold -0.0 to +0.0 (Spark round() parity)
            outs = []
            for i in range(len(q_ids)):
                row = sims[i]
                # total order (-sim, id): lexsort's last key is primary
                order = np.lexsort((a_ids, -row))
                if excl:
                    order = order[a_ids[order] != q_ids[i]]
                top = order[:kk]
                if len(top):
                    outs.append((q_ids[i], a_ids[top], row[top]))
            if not outs:
                return pd.DataFrame(
                    {"query_id": [], id_col: [], "cosine_sim": []}
                )
            return pd.DataFrame(
                {
                    "query_id": np.repeat(
                        [o[0] for o in outs], [len(o[1]) for o in outs]
                    ),
                    id_col: np.concatenate([o[1] for o in outs]),
                    "cosine_sim": np.concatenate([o[2] for o in outs]),
                }
            )

        scored = (
            probes.groupBy("cid")
            .cogroup(assigned.groupBy("cid"))
            .applyInPandas(cell_topk, out_schema)
        )
    else:
        raise ValueError(f"unknown knn_join kernel {kernel!r}")
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col(id_col))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
    )


def knn_label(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    n_probe: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    exclude_self: bool = True,
    kernel: str = "gemm",
) -> DataFrame:
    """k-NN label transfer: every query vector is classified by the
    MAJORITY LABEL of its :func:`knn_join` neighbors — the standard
    quality-classifier bootstrap of LLM data pipelines (label a small
    seed set by hand, propagate to the corpus by embedding
    neighborhood, train the cheap classifier on the propagated
    labels). Built AS the composition it is: the k-NN join produces
    (query_id, neighbor, sim, rk); neighbors equi-join their labels
    back from the corpus (a bounded Q·k-row side — AQE broadcasts it
    against the corpus scan); two hash aggregates vote. No new
    distributed machinery — the scale properties are knn_join's.

    NULL-label neighbors (unlabeled corpus rows in a partially
    labeled corpus) are excluded from voting AND from
    ``n_neighbors``, so confidence = votes/n_neighbors reads over
    labeled evidence only.

    Ties: the winning (votes, label) pair maximizes votes and breaks
    to the SMALLER label — deterministic on both engines.

    Returns (query_id, pred_label, votes, n_neighbors).
    """
    nn = knn_join(
        corpus,
        queries,
        n_centroids=n_centroids,
        n_probe=n_probe,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        exclude_self=exclude_self,
        kernel=kernel,
    )
    labels = corpus.select(
        F.col(id_col), F.col(label_col).alias("__lbl__")
    ).filter(F.col(label_col).isNotNull())
    votes = (
        nn.join(labels, id_col)
        .groupBy("query_id", "__lbl__")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    return (
        votes.groupBy("query_id")
        .agg(
            F.max(
                F.struct(F.col("votes"), (-F.col("__lbl__")).alias("__neg__"))
            ).alias("__best__"),
            F.sum("votes").alias("n_neighbors"),
        )
        .select(
            "query_id",
            (-F.col("__best__.__neg__")).cast("int").alias("pred_label"),
            F.col("__best__.votes").alias("votes"),
            "n_neighbors",
        )
    )


def lsh_neardup_pairs(
    embeddings: DataFrame,
    hyperplanes: list[list[float]],
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    collapse_exact: bool = True,
) -> DataFrame:
    """Embedding near-dup pairs at scale: LSH-bucket candidate
    generation + exact cosine verify.

    ``collapse_exact`` (default True) first reduces byte-identical
    vectors to one min-id representative (a plain groupBy on the array
    column — exact float equality, groupable on both engines): a
    g-copy identical group otherwise lands all g members in the SAME
    bucket and inflates the |b|² matmul by g² — on a 100-copy replica
    the 4-bucket test configuration built a ~50k-row bucket whose
    sims matrix (20 GB) killed the Python worker. Identical-copy pairs
    are exact dedup's output, not near-dup's.

    This is the sub-quadratic path :func:`cosine_neardup_pairs`
    documents: the only pairwise work happens WITHIN a bucket (uniformly
    distributed sign-bits — a skew-free shuffle key), so cost is
    Σ per-bucket |b|² instead of n². Recall < 1 by construction (pairs
    split across buckets are missed — more planes ⇒ smaller buckets ⇒
    lower recall ⇒ cheaper); every EMITTED pair is exact-verified, so
    precision is 1 at the threshold. Deterministic given the planes, so
    a SQL oracle replays it exactly.

    The per-bucket verify is one float64 numpy matmul via
    ``applyInPandas`` (one shuffle on the bucket id), not a row-pair
    self-join: at 10× data the expression-level join form took 35× the
    time (per-pair interpreted array folds); the vectorized kernel keeps
    the same emitted set while doing the |b|² work at BLAS speed.
    The matmul runs through :func:`_chunked_sim_pairs`, so the sims slab
    is capped (~512 MiB) even for pathological buckets; resident
    per-task memory is then O(max bucket size · d) for the input rows
    themselves — raise the plane count if THAT outgrows executors.
    """
    import numpy as np
    import pandas as pd

    if collapse_exact:
        embeddings = (
            embeddings.groupBy(vec_col)
            .agg(F.min(id_col).alias(id_col))
            .select(id_col, vec_col)
        )
    b = embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        lsh_bucket(F.col(vec_col), hyperplanes).alias("__bucket__"),
    )

    def verify_bucket(key, pdf):
        ids = pdf[id_col].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine_sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine_sim": "float64"}
            )
        mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        id_a, id_b, sim = _chunked_sim_pairs(ids, mat, threshold, round_digits)
        return pd.DataFrame({"id_a": id_a, "id_b": id_b, "cosine_sim": sim})

    return b.groupBy("__bucket__").applyInPandas(
        verify_bucket, "id_a long, id_b long, cosine_sim double"
    )


def semantic_neardup_pairs(
    embeddings: DataFrame,
    n_centroids: int = 8,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    collapse_exact: bool = True,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: k-means cluster
    assignment as the blocking stage, exact cosine verify within each
    cluster (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication" — the published recipe for
    LLM-corpus semantic dedup).

    Versus :func:`lsh_neardup_pairs` (random hyperplane buckets), the
    blocking key here is LEARNED from the data: one Lloyd assignment
    against ``n_centroids`` deterministic seed centroids (the lowest-id
    vectors — same seeding contract as :func:`kmeans_iterations`, so a
    SQL oracle replays the assignment exactly). Semantically close pairs
    land in the same cluster far more reliably than under data-oblivious
    hyperplanes, so recall at equal candidate volume is higher; the
    trade is the extra broadcast N×k scoring pass.

    Scale shape: assignment is a broadcast cross product scored
    in-stage (no shuffle), the verify is ONE shuffle on the cluster id
    followed by a per-cluster float64 BLAS matmul via ``applyInPandas``
    — Σ per-cluster |c|² work, never n². Per-task memory is
    O(max cluster size · d); at 100 TB you raise ``n_centroids`` (and
    run real Lloyd rounds first) so clusters fit executors, exactly the
    SemDeDup paper's regime (they use 50k clusters for LAION-scale).
    Every emitted pair is exact-verified, so precision at the threshold
    is 1; recall misses only cross-cluster pairs.
    """
    import numpy as np
    import pandas as pd

    if collapse_exact:
        # identical vectors → one min-id representative (see
        # lsh_neardup_pairs): a g-copy group inflates its cluster's
        # |c|² verify by g² for pairs exact dedup already owns. The
        # collapse runs BEFORE centroid seeding, so the oracle's reps
        # CTE must match.
        embeddings = (
            embeddings.groupBy(vec_col)
            .agg(F.min(id_col).alias(id_col))
            .select(id_col, vec_col)
        )
    # shared centroid-argmax aggregate (round 11 — was a row_number
    # window over the full N×C scored relation); keep_vec carries the
    # vector into the per-cluster verify without a join-back.
    assigned = (
        _ivf_assign(embeddings, n_centroids, id_col, vec_col, keep_vec=True)
        .withColumnRenamed("id", id_col)
        .withColumnRenamed("cid", "cent_id")
        .select("cent_id", id_col, vec_col)
    )

    def verify_cluster(key, pdf):
        ids = pdf[id_col].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame(
                {"cent_id": [], "id_a": [], "id_b": [], "cosine_sim": []}
            ).astype(
                {
                    "cent_id": "int64",
                    "id_a": "int64",
                    "id_b": "int64",
                    "cosine_sim": "float64",
                }
            )
        mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        id_a, id_b, sim = _chunked_sim_pairs(ids, mat, threshold, round_digits)
        return pd.DataFrame(
            {
                "cent_id": np.full(len(id_a), int(key[0]), dtype=np.int64),
                "id_a": id_a,
                "id_b": id_b,
                "cosine_sim": sim,
            }
        )

    return assigned.groupBy("cent_id").applyInPandas(
        verify_cluster, "cent_id long, id_a long, id_b long, cosine_sim double"
    )


def kmeans_iterations(
    embeddings: DataFrame,
    k: int = 8,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Full distributed k-means (Lloyd) to a fixed iteration count,
    engineered for exact cross-engine verification.

    Per iteration: score all N vectors against the k current centroids
    (broadcast cross product — no shuffle to assign), pick the argmax
    cosine per vector (one window), recompute centroids as element-wise
    means of the ORIGINAL vectors via posexplode + exact decimal sums,
    and round each mean to 6 dp. The rounding is the determinism
    contract: it snaps every centroid coordinate to a value both
    engines agree on bit-for-bit, so iteration K+1's assignments are
    identical everywhere and a DuckDB oracle can replay the whole
    recurrence (queries/llm_ops.py:embedding_kmeans_iterate).

    Seeds are the k lowest-id vectors (deterministic; k-means++ would
    add a seeded RNG the oracle can't replay). A centroid that loses
    all members drops out — with self-including seeds every cluster
    starts non-empty. Each iteration's 8x64 centroid relation is
    lazily checkpointed: the lineage stays O(1) per iteration instead
    of exponentially nesting, mirroring operators/graph.pagerank_int.

    Returns the FINAL iteration's long-form update:
    (cent_id, dim, mean_val, n_members).
    """
    cents = embeddings.filter(F.col(id_col) < k).select(
        F.col(id_col).alias("cid"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("cvec"),
    )
    out = None
    for _ in range(iterations):
        # shared centroid-argmax aggregate (round 11 — was a
        # row_number window shuffling all N·k scored rows per
        # iteration); the explicit cents frame is this iteration's
        # rounded means, keep_vec avoids a join-back for the
        # mean-update explode.
        assigned = (
            _ivf_assign(
                embeddings, k, id_col, vec_col, cents=cents, keep_vec=True
            )
            .withColumnRenamed("cid", "cent_id")
            .select("cent_id", vec_col)
        )
        ex = assigned.select(
            "cent_id", F.posexplode(vec_col).alias("dim", "val")
        )
        out = ex.groupBy(
            "cent_id", F.col("dim").cast("long").alias("dim")
        ).agg(
            F.round(
                F.sum(F.col("val").cast("double").cast("decimal(27,10)"))
                .cast("double")
                / F.count("*"),
                6,
            ).alias("mean_val"),
            F.count("*").alias("n_members"),
        )
        cents = (
            out.groupBy("cent_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "mean_val"))),
                    lambda s: s.mean_val,
                ).alias("cvec")
            )
            .select(F.col("cent_id").alias("cid"), "cvec")
            .localCheckpoint(eager=False)
        )
    return out


def gramian_block(
    emb: DataFrame, vec_col: str = "embedding", dims: int = 8, id_base: int = 0
) -> DataFrame:
    """Distributed Gramian block: the upper triangle of ``Σ_rows x xᵀ``
    over vector components ``[id_base, id_base + dims)``, in long form
    ``(i, j, s_xy, s_x, s_y, n)`` — the raw material of
    covariance / PCA / linear-regression normal equations. Covariance
    derives as ``(n·s_xy − s_x·s_y) / n²``; the full d×d Gramian of a
    wide embedding tiles from ``(d/dims)²`` such blocks.

    Scale shape — the whole point of the operator: the aggregation
    state is ``dims·(dims+1)/2 + dims`` numbers PER PARTITION
    (expression-level sums with map-side partial aggregation), so
    computing it over 100 TB of vectors moves a few hundred bytes per
    partition and NO per-row data through the shuffle. This is the
    expression-sum alternative to exploding (row, i, j) triples, which
    would shuffle ``n·d²/2`` rows. The tiny long-form reshape (stack +
    two broadcast joins) happens on the single 1-row aggregate output.

    Determinism: each product is an exact float→double widening and one
    IEEE double multiply, rounded to 9 dp and summed as DECIMAL(28,12)
    — order- and partitioning-independent (the repo's standard decimal
    fold), so a DuckDB oracle reproduces every sum exactly; outputs
    cast the exact decimal to double without re-rounding.
    """
    els = {
        k: F.col(vec_col).getItem(id_base + k).cast("double")
        for k in range(dims)
    }
    fold = lambda c: F.round(c, 9).cast("decimal(28,12)")  # noqa: E731
    pair_idx = [(i, j) for i in range(dims) for j in range(i, dims)]
    aggs = [
        F.sum(fold(els[i] * els[j])).alias(f"s_{i}_{j}") for i, j in pair_idx
    ]
    aggs += [F.sum(fold(els[i])).alias(f"m_{i}") for i in range(dims)]
    row = emb.agg(*aggs, F.count(F.lit(1)).alias("n"))

    pair_stack = ", ".join(f"{i}, {j}, s_{i}_{j}" for i, j in pair_idx)
    pairs = row.select(
        F.expr(f"stack({len(pair_idx)}, {pair_stack}) AS (i, j, s_xy)"), "n"
    )
    mom_stack = ", ".join(f"{i}, m_{i}" for i in range(dims))
    moms = row.select(F.expr(f"stack({dims}, {mom_stack}) AS (i, m)"))
    mx = F.broadcast(moms).select("i", F.col("m").alias("s_x"))
    my = F.broadcast(moms).select(F.col("i").alias("j"), F.col("m").alias("s_y"))
    return (
        pairs.join(mx, "i")
        .join(my, "j")
        .select(
            "i",
            "j",
            F.col("s_xy").cast("double").alias("s_xy"),
            F.col("s_x").cast("double").alias("s_x"),
            F.col("s_y").cast("double").alias("s_y"),
            F.col("n").cast("long").alias("n"),
        )
    )


def _sub_rows(
    df: DataFrame,
    m: int,
    d_sub: int,
    vec_col: str,
    key_expr: Column,
    key_name: str,
    sub_name: str,
) -> DataFrame:
    """One row per (key, subspace): explode a vector column into its
    ``m`` ``d_sub``-wide subvectors — THE PQ slicing recipe, shared by
    encoding, the persisted codebook build, and both query-LUT paths
    (round-11 review: it previously existed as five hand-synchronized
    copies whose 'bit-identical rankings' contract depended on nobody
    editing one of them)."""
    structs = [
        F.struct(
            F.lit(mi).alias("m"),
            F.slice(F.col(vec_col), mi * d_sub + 1, d_sub).alias("sub"),
        )
        for mi in range(m)
    ]
    return df.select(
        key_expr.alias(key_name), F.explode(F.array(*structs)).alias("s")
    ).select(key_name, F.col("s.m").alias("m"), F.col("s.sub").alias(sub_name))


def _query_sub_rows(
    emb: DataFrame, query_vec_id: int, m: int, d_sub: int, id_col: str, vec_col: str
) -> DataFrame:
    """(m, qsub) for the single query row."""
    return _sub_rows(
        emb.filter(F.col(id_col) == query_vec_id),
        m,
        d_sub,
        vec_col,
        F.lit(0),
        "__q__",
        "qsub",
    ).select("m", "qsub")


def _codebook_sub_rows(
    emb: DataFrame, n_codes: int, m: int, d_sub: int, id_col: str, vec_col: str
) -> DataFrame:
    """(code, m, csub): the convention codebook's subvectors."""
    return _sub_rows(
        emb.filter(F.col(id_col) < n_codes),
        m,
        d_sub,
        vec_col,
        F.col(id_col),
        "code",
        "csub",
    )


def _adc_lut(q_rows: DataFrame, cb_rows: DataFrame) -> DataFrame:
    """Per-query ADC lookup table: ||q_sub − csub||² per (m, code),
    9-dp-rounded into DECIMAL(28,12) so the downstream per-candidate
    fold is order-independent and cross-engine exact. m·n_codes rows —
    always broadcast at the join site."""
    d2 = (
        dot(F.col("qsub"), F.col("qsub"))
        - 2 * dot(F.col("qsub"), F.col("csub"))
        + dot(F.col("csub"), F.col("csub"))
    )
    return q_rows.join(cb_rows, "m").select(
        "m", "code", F.round(d2, 9).cast("decimal(28,12)").alias("d9")
    )


def _exact_l2_recall_topk(
    emb: DataFrame, query_vec_id: int, k: int, id_col: str, vec_col: str
) -> DataFrame:
    """(id, hit=True) for the exact squared-L2 top-k — the in-plan
    recall evaluation both IVF-PQ paths attach."""
    qv = emb.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("qvec")
    )
    ex_d2 = (
        dot(F.col(vec_col), F.col(vec_col))
        - 2 * dot(F.col(vec_col), F.col("qvec"))
        + dot(F.col("qvec"), F.col("qvec"))
    )
    return (
        emb.filter(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(qv))
        .select(F.col(id_col).alias("id"), F.round(ex_d2, 9).alias("ed2"))
        .orderBy("ed2", "id")
        .limit(k)
        .select("id", F.lit(True).alias("hit"))
    )


def pq_encode(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    d_sub: int = 8,
    k: int = 16,
) -> DataFrame:
    """Product-quantization encoding: split each vector into ``m``
    subvectors of ``d_sub`` dims and replace every subvector with the id
    of its nearest codebook centroid (squared L2, ties to the smaller
    code) — ``m·log2(k)`` bits per vector instead of ``d`` floats, the
    compression that makes billion-scale ANN indexes (IVF-PQ) fit in
    memory. Codebooks are the deterministic convention used by the
    k-means/SemDeDup family: the first ``k`` vectors by id supply the
    centroids of every subspace (real systems train them with
    ``kmeans_iterations``; the assignment math — the part that runs
    over all data — is identical).

    Output: ``(id, m, code, dist2)``, one row per (vector, subspace).

    Scale shape: the codebook relation (m·k rows) broadcasts; encoding
    is one broadcast join + a map-side-combined min aggregate keyed on
    (id, subspace) — the only shuffle carries m rows per vector, and
    nothing is ever collected. Determinism: dist² composes three
    sequential-fold dot products (the engine's bit-identical-vs-DuckDB
    primitive), rounded to 9 dp with the code id as tie-break, so the
    full code assignment is hash-verifiable cross-engine."""
    subs = _sub_rows(emb, m, d_sub, vec_col, F.col(id_col), "id", "sub")
    cents = subs.filter(F.col("id") < k).select(
        F.col("id").alias("code"), "m", F.col("sub").alias("cvec")
    )
    joined = subs.join(F.broadcast(cents), "m")
    d2 = (
        dot(F.col("sub"), F.col("sub"))
        - 2 * dot(F.col("sub"), F.col("cvec"))
        + dot(F.col("cvec"), F.col("cvec"))
    )
    best = (
        joined.select(
            "id", "m", F.struct(F.round(d2, 9).alias("dist2"), "code").alias("b")
        )
        .groupBy("id", "m")
        .agg(F.min("b").alias("b"))
    )
    return best.select(
        "id", "m", F.col("b.code").alias("code"), F.col("b.dist2").alias("dist2")
    )


def ivfpq_topk(
    emb: DataFrame,
    query_vec_id: int,
    n_centroids: int = 16,
    n_probe: int = 2,
    k: int = 10,
    m: int = 8,
    d_sub: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the composed billion-scale ANN index — IVF coarse
    routing prunes WHICH vectors are scored (n_probe/n_centroids of the
    corpus), PQ compression changes HOW they are scored (asymmetric
    distance against an m×n_codes lookup table instead of touching raw
    vectors). Together: a query reads a fraction of a compressed index,
    the structure behind FAISS-style IVFPQ.

    Both quantizers use the engine's deterministic convention codebooks
    (lowest-id vectors; production would train both with
    ``kmeans_iterations`` — the query-path math is identical). ADC:
    ``dist(q, v) ≈ Σ_m ||q_sub_m − codebook[m][code_v,m]||²`` — the
    per-subspace terms come from a 128-row broadcast LUT built once per
    query, each term 9-dp-rounded and folded through DECIMAL(28,12) so
    the sum is order-independent and cross-engine exact.

    Output: top-``k`` candidates as ``(vec_id, adc_dist2,
    in_exact_topk)`` — the recall evaluation rides along as a boolean
    computed against the exact squared-L2 top-k in the same plan.

    Scale shape: assignment and encoding are broadcast-join + map-side
    aggregation (write-time work in a real index); the query path joins
    the candidate codes (m rows per candidate) to the broadcast LUT and
    top-ks via TakeOrderedAndProject. Nothing quadratic, nothing
    collected."""
    # ── coarse quantizer: assign every vector to its nearest centroid
    # (shared with build_ivfpq_index — see _ivf_assign for the
    # argmax-as-hash-aggregate shape).
    cents = emb.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
    )
    assigned = _ivf_assign(emb, n_centroids, id_col, vec_col)
    # probes need only the query row × centroids (n_centroids rows) —
    # never re-derive them from the full N×C scored relation.
    qrow = emb.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("qv")
    )
    probes = (
        cents.crossJoin(F.broadcast(qrow))
        .withColumn("qsim", cosine(F.col("cvec"), F.col("qv")))
        .orderBy(F.col("qsim").desc(), "cid")
        .limit(n_probe)
        .select(F.col("cid").alias("probe_cid"))
    )

    # ── PQ codes for the whole corpus (write-time work at scale)
    codes = pq_encode(
        emb, vec_col=vec_col, id_col=id_col, m=m, d_sub=d_sub, k=n_codes
    )

    # ── per-query ADC lookup table: ||q_sub_m − centroid_sub||² for all
    # (m, code) — m·n_codes rows, broadcast (shared _adc_lut recipe)
    lut = _adc_lut(
        _query_sub_rows(emb, query_vec_id, m, d_sub, id_col, vec_col),
        _codebook_sub_rows(emb, n_codes, m, d_sub, id_col, vec_col),
    )

    # ── query path: candidates from the probed cells, ADC-scored
    cand = (
        assigned.join(
            F.broadcast(probes), assigned.cid == F.col("probe_cid")
        )
        .filter(F.col("id") != query_vec_id)
        .select("id")
    )
    adc = (
        codes.join(cand, "id", "left_semi")
        .join(F.broadcast(lut), ["m", "code"])
        .groupBy("id")
        .agg(F.sum("d9").cast("double").alias("adc_dist2"))
    )
    top = adc.orderBy("adc_dist2", "id").limit(k)

    # ── exact squared-L2 top-k for the in-plan recall evaluation
    exact_top = _exact_l2_recall_topk(emb, query_vec_id, k, id_col, vec_col)
    return (
        top.join(F.broadcast(exact_top), "id", "left")
        .select(
            F.col("id").alias("vec_id"),
            "adc_dist2",
            F.coalesce(F.col("hit"), F.lit(False)).alias("in_exact_topk"),
        )
    )


# ──────────────────────────────────────────────────────────────────────
# Staged IVF-PQ index: write-time assignment + encoding, query-time
# probe. ivfpq_topk above rebuilds the whole index (corpus-wide IVF
# assignment + PQ codes) inside every execution — correct, but that is
# write-time work in a real deployment (FAISS trains/encodes once and
# serves many queries). build_ivfpq_index persists the index as parquet;
# ivfpq_topk_indexed probes it, reading only the probed cells' codes via
# partition pruning on the cell id.
# ──────────────────────────────────────────────────────────────────────


def _ivf_assign(
    emb: DataFrame,
    n_centroids: int,
    id_col: str,
    vec_col: str,
    cents: DataFrame | None = None,
    keep_vec: bool = False,
) -> DataFrame:
    """(id, cid[, vec]): each vector's nearest centroid by cosine, ties
    to the smaller cid — THE centroid-argmax of the module (round-11
    review retired the three per-vector row_number windows that
    duplicated it: the window shape shuffles all N·C scored rows and
    sorts per vector; this is a max(struct) hash aggregate with
    map-side partials, shuffling ~N combined rows).

    ``cents``: explicit (cid, cvec) centroid frame — iterating callers
    (k-means rounds) pass their current means; default is the
    convention seeds (lowest-id vectors of ``emb``).

    Since the r16 optimization round the argmax is a pure EXPRESSION:
    the centroid frame collapses to ONE broadcast row holding a
    (cid, cvec) struct array, and each vector row computes
    ``array_max`` over the per-centroid (sim, -cid) structs in-stage.
    The previous form exploded N·C scored rows into a max(struct)
    hash aggregate — the map-side partials buffered one struct per
    vector (including the carried vector under ``keep_vec``) and the
    final aggregation exchanged ~N rows per call; this form moves
    ZERO rows (the assignment inherits the scan's partitioning) and
    allocates no per-centroid rows at all. array_max uses the same
    interpreted struct ordering as the max(struct) aggregate, so the
    winner — highest sim, ties to the smaller cid via the negated
    ncid field — is bit-identical. ``keep_vec=True`` just keeps the
    vector column on the row (it was never compared: sim ties break
    on the UNIQUE ncid before any later field)."""
    if cents is None:
        cents = emb.filter(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
        )
    # one bounded row: the full centroid set as a struct array (C is a
    # model parameter — 8..4096 — never data-scale). Centroid norms
    # ride in the array and the vector norm is computed ONCE per row
    # (the __nv__ projection below): the higher-order array folds run
    # interpreted, so the redundant per-centroid norm recomputation of
    # the naive cosine() call was ~2/3 of the kernel's flops.
    # sim = dot/(nv*cn guarded by nullif) keeps the exact float
    # expression order of cosine(), so values are bit-identical.
    carr = cents.agg(
        F.collect_list(
            F.struct(
                F.col("cid"),
                F.col("cvec"),
                norm2(F.col("cvec")).alias("cn"),
            )
        ).alias("__cs__")
    )
    # A zero-norm vector has NULL cosine to EVERY centroid (the nullif
    # guard), so an unfiltered argmax would degrade to the ncid
    # tie-break and silently pile every garbage all-zeros vector onto
    # the smallest cid — polluting that cell's k-means mean and
    # semantic-neardup verify group (round-11 advisor). NULL-sim
    # entries are filtered before the argmax, and a vector whose every
    # sim is NULL (empty filtered array → NULL best) is dropped;
    # oracle twins replay the same IS NOT NULL filter.
    best = F.array_max(
        F.filter(
            F.transform(
                F.col("__cs__"),
                lambda c: F.struct(
                    (
                        dot(F.col(vec_col), c["cvec"])
                        / F.nullif(F.col("__nv__") * c["cn"], F.lit(0.0))
                    ).alias("sim"),
                    (-c["cid"]).alias("ncid"),
                ),
            ),
            lambda s: s["sim"].isNotNull(),
        )
    )
    cols = [F.col(id_col).alias("id"), (-F.col("__b__.ncid")).alias("cid")]
    if keep_vec:
        cols.append(F.col(vec_col))
    return (
        emb.crossJoin(F.broadcast(carr))
        .withColumn("__nv__", norm2(F.col(vec_col)))
        .withColumn("__b__", best)
        .filter(F.col("__b__").isNotNull())
        .select(*cols)
    )


def _salted_cid_repartition(df: DataFrame, n_centroids: int) -> DataFrame:
    """Pre-write exchange for the cell-partitioned ``codes/`` layout.
    A bare ``repartition("cid")`` yields at most one non-empty task per
    cell — at small centroid counts the whole encode+write serializes
    onto n_centroids tasks (r14 NOTES item 16 / VERDICT r15 item 5).
    Salt the shuffle key with a deterministic id-HASH bucket (xxhash64,
    not ``id % n`` — a modulo salt collapses whenever ids correlate
    with cells, e.g. round-robin assignment) sized so (cid, salt) keys
    ≈ 2× cluster parallelism: every core gets work at any centroid
    count, and each task holds only a few cells so the
    ``partitionBy("cid")`` writer opens a bounded number of files.
    Directory layout (and thus probe-side partition pruning) is
    unchanged — a cell just holds several files, which is equally true
    after any append batch."""
    par = df.sparkSession.sparkContext.defaultParallelism
    n_salt = max(1, -(-2 * par // max(1, n_centroids)))
    if n_salt == 1:
        return df.repartition("cid")
    return df.repartition(
        F.col("cid"), F.pmod(F.xxhash64(F.col("id")), F.lit(n_salt))
    )


def build_ivfpq_index(
    emb: DataFrame,
    path: str,
    n_centroids: int = 16,
    m: int = 8,
    d_sub: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF-PQ index for ivfpq_topk_indexed:

    - ``codes/``: (id, m, code) PARTITIONED BY the IVF cell id — the
      inverted-list layout: a probe reads only its cells' directories
      (partition pruning), never the rest of the index.
    - ``centroids/``: (cid, cvec) — n_centroids rows for query routing.
    - ``codebook/``: (code, m, csub) — m·n_codes subvector centroids
      for the per-query ADC lookup table.

    Same deterministic convention quantizers as ivfpq_topk (lowest-id
    vectors; production would train both with kmeans_iterations — the
    persisted layout and probe math are identical), so an indexed probe
    returns bit-identical rankings. Scale shape: assignment and
    encoding are broadcast joins + map-side-combined aggregates — one
    pass over the corpus, paid once per corpus version; the partitioned
    write is the only wide exchange.

    The input is spread to cluster parallelism when the scan
    under-splits (round-16: the 100× replica's ~50 MB parquet yields
    7 splits on a 32-core box, serializing the encode stages 4.5× —
    fresh-build sweep row 157 s → 28 s with the spread). At 100 TB the
    scan yields thousands of splits and :func:`~.sources.tables.spread`
    is a no-op, so this never adds a full-corpus shuffle at real
    scale."""
    from nyc_opendata_etl_spark.sources.tables import spread

    emb = spread(emb)
    assigned = _ivf_assign(emb, n_centroids, id_col, vec_col)
    codes = pq_encode(
        emb, vec_col=vec_col, id_col=id_col, m=m, d_sub=d_sub, k=n_codes
    ).select("id", "m", "code")

    def write(new: str) -> None:
        (
            _salted_cid_repartition(codes.join(assigned, "id"), n_centroids)
            .write.partitionBy("cid")
            .parquet(f"{new}/codes")
        )
        (
            emb.filter(F.col(id_col) < n_centroids)
            .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
            .coalesce(1)
            .write.parquet(f"{new}/centroids")
        )
        (
            _codebook_sub_rows(emb, n_codes, m, d_sub, id_col, vec_col)
            .coalesce(1)
            .write.parquet(f"{new}/codebook")
        )
        # ``params/`` makes the index SELF-DESCRIBING: a probe with
        # another m/d_sub would silently sum a subset of the ADC terms
        # (wrong top-k, no exception), so it validates against this.
        (
            emb.sparkSession.createDataFrame(
                [(int(n_centroids), int(m), int(d_sub), int(n_codes))],
                "n_centroids int, m int, d_sub int, n_codes int",
            )
            .coalesce(1)
            .write.parquet(f"{new}/params")
        )

    commit(path, write)


def _pq_encode_against(subs: DataFrame, codebook: DataFrame) -> DataFrame:
    """(id, m, code): nearest entry of a PERSISTED codebook relation
    ((code, m, csub) — the build_ivfpq_index layout) per subvector row.
    The same squared-L2 + 9-dp-round + code-id tie-break kernel as
    :func:`pq_encode`, but the codebook is an input instead of the
    convention slice of the data — the encode-without-retraining half
    of incremental index maintenance."""
    joined = subs.join(F.broadcast(codebook), "m")
    d2 = (
        dot(F.col("sub"), F.col("sub"))
        - 2 * dot(F.col("sub"), F.col("csub"))
        + dot(F.col("csub"), F.col("csub"))
    )
    best = (
        joined.select(
            "id", "m", F.struct(F.round(d2, 9).alias("dist2"), "code").alias("b")
        )
        .groupBy("id", "m")
        .agg(F.min("b").alias("b"))
    )
    return best.select("id", "m", F.col("b.code").alias("code"))


def update_ivfpq_index(
    new_emb: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a batch of NEW vectors to a staged build_ivfpq_index
    layout in O(new vectors) — the add()-without-retraining semantics
    of FAISS's IVF lists, and the fourth staged-artifact granularity's
    incremental path (text postings: update_text_index; exact dedup:
    update_fingerprint_index; near-dup: the LSH bucket append;
    embeddings: this).

    Routing and encoding REUSE the persisted quantizers: each new
    vector is assigned to its nearest EXISTING centroid (the shared
    :func:`_ivf_assign` argmax, explicit ``cents``) and encoded against
    the EXISTING codebook (:func:`_pq_encode_against`), then the
    (id, m, code) rows append into the cell-partitioned ``codes/``
    layout — new files inside existing cell directories, so a probe's
    partition pruning sees old and new rows identically. Nothing else
    is touched: centroids/codebook/params stay the build's (that is the
    contract — drift between corpus and quantizers is what periodic
    re-trains are for). Zero-norm new vectors drop at assignment (the
    NULL-best-sim rule) rather than polluting cell 0.

    Cost shape at 100 TB: n_centroids-row + m·n_codes-row broadcasts
    against ONLY the batch, two map-side-combined aggregates, one
    append write — independent of the existing index size; a full
    rebuild re-scans the entire corpus instead. The batch is spread to
    cluster parallelism when its scan under-splits (same no-op-at-scale
    contract as the build's spread)."""
    from nyc_opendata_etl_spark.sources.tables import spread

    new_emb = spread(new_emb)
    spark = new_emb.sparkSession
    cur = current_dir(path)
    p = spark.read.parquet(f"{cur}/params").first()
    cents = spark.read.parquet(f"{cur}/centroids")
    codebook = spark.read.parquet(f"{cur}/codebook")
    assigned = _ivf_assign(
        new_emb, p["n_centroids"], id_col, vec_col, cents=cents
    )
    subs = _sub_rows(
        new_emb, p["m"], p["d_sub"], vec_col, F.col(id_col), "id", "sub"
    )
    codes = _pq_encode_against(subs, codebook)
    (
        _salted_cid_repartition(codes.join(assigned, "id"), p["n_centroids"])
        .write.mode("append")
        .partitionBy("cid")
        .parquet(f"{cur}/codes")
    )


def ivfpq_topk_indexed(
    spark,
    emb: DataFrame,
    index_path: str,
    query_vec_id: int,
    n_probe: int = 2,
    k: int = 10,
    m: int = 8,
    d_sub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ top-k as an INDEX PROBE against a build_ivfpq_index
    layout — same rankings as ivfpq_topk (identical routing, LUT, and
    9-dp DECIMAL(28,12) ADC folds), but the corpus-wide assignment and
    encoding are read, not recomputed: the probe collects its n_probe
    cell ids (a bounded-by-construction ≤n_probe-row collect) and scans
    ONLY those cells' code partitions — static partition pruning, the
    inverted-list read pattern. The exact squared-L2 top-k recall
    boolean still rides along (it is the evaluation half of the query's
    contract and inherently scans the raw vectors).

    Query cost: n_centroids-row routing + (n_probe/n_centroids of the
    codes) + a 128-row LUT broadcast — independent of how the rest of
    the corpus grew since the index was written.

    ``m``/``d_sub`` are validated against the index's persisted
    ``params/`` record: a mismatch used to produce silently-wrong ADC
    distances (subset of subspace terms summed) — now it raises."""
    cur = current_dir(index_path)
    p = spark.read.parquet(f"{cur}/params").first()
    if (m, d_sub) != (p["m"], p["d_sub"]):
        raise ValueError(
            f"ivfpq_topk_indexed called with m={m}, d_sub={d_sub} but the "
            f"index at {index_path} was built with m={p['m']}, "
            f"d_sub={p['d_sub']} — a mismatch sums only a subset of ADC "
            f"subspace terms (wrong distances, no error); rebuild the "
            f"index or match the probe parameters"
        )
    cents = spark.read.parquet(f"{cur}/centroids")
    qrow = emb.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("qv")
    )
    probe_rows = (
        cents.crossJoin(F.broadcast(qrow))
        .withColumn("qsim", cosine(F.col("cvec"), F.col("qv")))
        .orderBy(F.col("qsim").desc(), "cid")
        .limit(n_probe)
        .select("cid")
        .collect()  # bounded by construction: ≤ n_probe rows
    )
    probe_cids = [r["cid"] for r in probe_rows]

    codes = spark.read.parquet(f"{cur}/codes").filter(
        F.col("cid").isin(probe_cids)  # static partition pruning
    )

    # per-query ADC LUT from the persisted codebook (m·n_codes rows;
    # shared _adc_lut recipe — identical math to the inline path)
    lut = _adc_lut(
        _query_sub_rows(emb, query_vec_id, m, d_sub, id_col, vec_col),
        spark.read.parquet(f"{cur}/codebook"),
    )

    adc = (
        codes.filter(F.col("id") != query_vec_id)
        .join(F.broadcast(lut), ["m", "code"])
        .groupBy("id")
        .agg(F.sum("d9").cast("double").alias("adc_dist2"))
    )
    top = adc.orderBy("adc_dist2", "id").limit(k)

    exact_top = _exact_l2_recall_topk(emb, query_vec_id, k, id_col, vec_col)
    return top.join(F.broadcast(exact_top), "id", "left").select(
        F.col("id").alias("vec_id"),
        "adc_dist2",
        F.coalesce(F.col("hit"), F.lit(False)).alias("in_exact_topk"),
    )
