"""Staged NEAR-DUP CLUSTER MAP with O(new-batch) incremental
maintenance (r14, staged for r15 registration).

Round 14 moved `corpus_split_leakage_safe` onto a staged cluster map
(`queries/llm_ops._stage_dup_clusters`) — but that artifact is
batch-rebuilt: a new document batch costs a full corpus re-cluster.
This module is the write-time-staging law's missing leg for
clustering, completing the incremental-index family (text posting
list, LSH buckets, fingerprint/rc, IVF-PQ): an artifact layout whose
UPDATE step touches only the new batch plus the artifact, never the
already-indexed corpus, and whose output is pinned IDENTICAL to a
from-scratch `dedup.duplicate_clusters_collapsed` run.

Artifact layout: the committed version of the versioned root ``path``
(a build or compaction commits the whole root; an update writes into
it in place) holds three batch logs and a versioned snapshot, the
replay-safe formats of ``sources/batch_log.py`` (which states the
replay discipline):

- ``reps/b=<batch>/``    one row per distinct canonical text first
                seen in that batch: (ch = md5(canon), rep = min doc
                id, sh = sorted xxhash64 shingle array, n_sh). The
                canonical text itself never persists — the shingle
                hashes are the only representation pairing needs.
- ``prefix/b=<batch>/``  the AllPairs prefix index of that batch's
                reps: (ph, rep, n_sh) for the first
                |sh| − ⌈t·|sh|⌉ + 1 hashes. Because the canonical
                order (sorted xxhash64) is global and deterministic,
                prefixes written in any batch are mutually comparable
                — the lossless-recall theorem (two sets with J ≥ t
                share an element in both prefixes) holds ACROSS
                batches.
- ``members/b=<batch>/`` (doc_id, rep) for that batch's docs.
- ``clusters/v=<batch>/`` versioned SNAPSHOTS of the output map
                (doc_id, cluster_id = min member id) for every doc in
                a dup relation (a batch's label merges can relabel old
                rows, so each version is a compacted view, not a log);
                ``_CURRENT`` points at the newest committed version —
                a reader convenience, never an update input.

Crash/replay contract: batch ids are strictly increasing (streaming
epoch ids satisfy this; the build seeds batch −1). Update ``b`` reads
only below ``b`` and writes only ``b``'s own partitions and ``v=b``, so
a replay from ANY crash point rewrites byte-identical content (pinned:
tests/test_round14_ops.py replay test).

Update algorithm (union-find over the contracted graph):

1. Canonicalize the batch; groups matching an existing rep (by ch)
   need NO pair computation — identical text ⇒ Jaccard 1 with the rep.
2. Truly-new texts become new reps; their prefixes probe the STAGED
   prefix index for new↔old candidates (cost: batch prefixes × index
   bucket hits) plus a new↔new self-join; exact array-intersect verify
   against shingle arrays fetched from ``reps`` for just the candidate
   ids.
3. Connected components run on the DELTA graph only, with every
   touched OLD cluster contracted to its label node (an old cluster is
   a connected component of the old graph, so contracting it preserves
   reachability — the standard union-find argument; old↔old pairs
   need never be recomputed because both endpoints' pair predicate is
   unchanged). Component label = min node id = min member id, since
   old labels are already their components' minima and new nodes carry
   their groups' min ids.
4. ``clusters/`` rewrites as: old rows with merged labels remapped +
   previously-singleton reps that just got clustered + the batch's
   newly clustered docs.

Scale shape: the only corpus-sized relation ever read is the batch;
``reps``/``prefix`` reads prune to candidate buckets; the CC kernel
sees touched components only; the clusters rewrite is O(|clustered
docs|) — the artifact, not the corpus (partition the relation by
label range to make even that incremental in a real deployment;
documented, not implemented here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_opendata_etl_spark.operators.dedup import (
    _canon_src,
    duplicate_clusters,
    duplicate_clusters_collapsed,
    word_shingles,
)
from nyc_opendata_etl_spark.sources.batch_log import (
    commit,
    current_dir,
    current_version,
    must_read_log,
    version_below,
    version_dirs,
    write_batch,
    write_version,
)

#: The build's batch id — below every real (non-negative) batch id,
#: the dim_sink SEED_VERSION convention.
BUILD_BATCH = -1


def _sh_col(canon_col: str, n: int):
    """Sorted distinct xxhash64 shingle array — the exact representation
    ngram_jaccard_pairs uses, so staged pairing is bit-identical to
    in-query pairing."""
    return F.array_sort(
        F.transform(
            F.array_distinct(word_shingles(canon_col, n, assume_canonical=True)),
            lambda s: F.xxhash64(s),
        )
    )


def _prefix_rows(reps: DataFrame, threshold: float) -> DataFrame:
    prefix_len = (
        F.col("n_sh") - F.ceil(F.col("n_sh") * F.lit(threshold)) + 1
    ).cast("int")
    return reps.filter(F.col("n_sh") > 0).select(
        "rep",
        "n_sh",
        F.explode(F.slice(F.col("sh"), 1, prefix_len)).alias("ph"),
    )


def artifact_schemas(id_type: str = "bigint") -> dict[str, str]:
    """Each relation's schema as read back (``batch_log.read_log``);
    ``id_type`` is the type of the corpus's id column. ``b`` is declared
    ``int``, the type Spark infers for the partition, because the
    optimizer's row-size estimate picks the broadcast side of the
    prefix join."""
    return {
        "reps": f"ch string, rep {id_type}, sh array<bigint>, n_sh int, b int",
        "prefix": f"rep {id_type}, n_sh int, ph bigint, b int",
        "members": f"doc_id {id_type}, rep {id_type}, b int",
        "clusters": f"doc_id {id_type}, cluster_id {id_type}",
    }


def build_dup_cluster_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    cc_kernel=None,
) -> None:
    """From-scratch build: write reps/prefix/members (batch partition
    ``b=BUILD_BATCH``) and the initial cluster-map snapshot
    (`duplicate_clusters_collapsed` — the proven kernel) as
    ``clusters/v=BUILD_BATCH``, all four committed as one version of
    the root."""
    src = _canon_src(docs, text_col, id_col)
    grp = src.groupBy(F.md5("__canon__").alias("ch")).agg(
        F.min("id").alias("rep"),
        F.min_by("__canon__", "id").alias("__canon__"),
    )
    reps = (
        grp.select("ch", "rep", _sh_col("__canon__", n).alias("sh"))
        .withColumn("n_sh", F.size("sh"))
        .localCheckpoint()  # one corpus scan feeds three writes
    )
    members = (
        src.select("id", F.md5("__canon__").alias("ch"))
        .join(reps.select("ch", "rep"), "ch")
        .select(F.col("id").alias("doc_id"), "rep")
    )
    clusters = duplicate_clusters_collapsed(
        docs,
        text_col=text_col,
        id_col=id_col,
        n=n,
        threshold=threshold,
        cc_kernel=cc_kernel,
    )

    def write(new: str) -> None:
        for rel, df in (
            ("reps", reps), ("prefix", _prefix_rows(reps, threshold)),
            ("members", members),
        ):
            write_batch(df, f"{new}/{rel}", BUILD_BATCH)
        write_version(clusters, f"{new}/clusters", BUILD_BATCH)

    commit(path, write)


def update_dup_cluster_index(
    spark: SparkSession,
    new_docs: DataFrame,
    path: str,
    batch_id: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    cc_kernel=None,
) -> None:
    """Fold a batch of NEW documents (ids disjoint from the indexed
    corpus) into the artifact. Only the batch is canonicalized and
    shingled; the indexed corpus is touched solely through the staged
    relations. Handles every merge direction: new doc joining an
    existing text group (identical text), new text pairing with old
    reps (possibly merging several old clusters), new↔new pairs, and
    pure-new complete groups — with labels that stay the global
    min-member-id (a new doc with a smaller id than an old cluster's
    label relabels that cluster, exactly as a from-scratch run
    would).

    ``batch_id`` must be ≥ 0 and strictly greater than every
    previously applied batch (streaming epoch ids satisfy this). The
    update is CRASH- and REPLAY-idempotent (ADVICE r14): all reads
    come from partitions/versions strictly below ``batch_id``, all
    writes overwrite only ``batch_id``'s own partitions/version — a
    re-run from any crash point rewrites byte-identical content."""
    if cc_kernel is None:
        cc_kernel = duplicate_clusters
    if batch_id <= BUILD_BATCH:
        raise ValueError(
            f"batch_id={batch_id} must exceed the build batch {BUILD_BATCH}"
        )
    cur = current_dir(path)
    applied = version_dirs(f"{cur}/clusters")
    if applied and batch_id < max(applied):
        # ADVICE r15: out-of-order batch ids must fail LOUDLY. A batch
        # at/below an already-applied batch is only legal as a REPLAY of
        # the latest (equality — streaming epoch re-delivery rewrites
        # byte-identical content); anything lower would dynamic-overwrite
        # that batch's log partitions with different content and move the
        # _CURRENT pointer backwards to a stale snapshot.
        raise ValueError(
            f"batch_id={batch_id} is below the max applied batch "
            f"{max(applied)} at {path}; batches must arrive in "
            f"non-decreasing order (equality = replay)"
        )
    t = float(threshold)

    v_old = version_below(f"{cur}/clusters", batch_id)
    if v_old is None:
        raise ValueError(
            f"update_dup_cluster_index: no cluster snapshot below batch "
            f"{batch_id} at {path}; call build_dup_cluster_index first"
        )
    schema = artifact_schemas(new_docs.schema[id_col].dataType.simpleString())

    def old(rel: str) -> DataFrame:
        # replay-pinned: strictly-below-batch rows (a crashed prior
        # attempt of THIS batch is invisible; lazy reads evaluated after
        # this batch's writes would otherwise double-count its rows)
        return (
            must_read_log(spark, f"{cur}/{rel}", schema[rel])
            .filter(F.col("b") < F.lit(batch_id))
            .drop("b")
            .localCheckpoint()
        )

    reps_old, prefix_old = old("reps"), old("prefix")
    clusters_old = must_read_log(
        spark, f"{cur}/clusters/v={v_old}", schema["clusters"]
    ).localCheckpoint()

    newsrc = _canon_src(new_docs, text_col, id_col).localCheckpoint()
    newgrp = (
        newsrc.groupBy(F.md5("__canon__").alias("ch"))
        .agg(
            F.min("id").alias("nmin"),
            F.count(F.lit(1)).alias("ncnt"),
            F.min_by("__canon__", "id").alias("__canon__"),
        )
        .localCheckpoint()
    )
    matched = newgrp.join(reps_old.select("ch", "rep", "n_sh"), "ch").select(
        "ch", "nmin", "ncnt", "rep", "n_sh"
    )
    new_reps = (
        newgrp.join(reps_old.select("ch"), "ch", "left_anti")
        .select(
            "ch",
            F.col("nmin").alias("rep"),
            "ncnt",
            _sh_col("__canon__", n).alias("sh"),
        )
        .withColumn("n_sh", F.size("sh"))
        .localCheckpoint()
    )

    # append-log maintenance (O(batch) writes into the batch's OWN
    # partition — dynamic overwrite, so replay rewrites not re-appends;
    # the pre-batch index is never re-read or rewritten)
    members = (
        newsrc.select("id", F.md5("__canon__").alias("ch"))
        .join(
            reps_old.select("ch", "rep").unionByName(
                new_reps.select("ch", "rep")
            ),
            "ch",
        )
        .select(F.col("id").alias("doc_id"), "rep")
    )
    for rel, df in (
        ("reps", new_reps.select("ch", "rep", "sh", "n_sh")),
        ("prefix", _prefix_rows(new_reps, t)), ("members", members),
    ):
        write_batch(df, f"{cur}/{rel}", batch_id, overwrite="dynamic")

    # candidate pairs involving new reps — index probe, not corpus scan
    npref = _prefix_rows(new_reps, t)

    def ratio(a_n, b_n):
        return (b_n >= a_n * F.lit(t)) & (a_n >= b_n * F.lit(t))

    cross_cand = (
        npref.alias("a")
        .join(
            prefix_old.alias("b"),
            (F.col("a.ph") == F.col("b.ph"))
            & ratio(F.col("a.n_sh"), F.col("b.n_sh")),
        )
        .select(F.col("a.rep").alias("new_rep"), F.col("b.rep").alias("old_rep"))
        .distinct()
    )
    nn_cand = (
        npref.alias("a")
        .join(
            npref.alias("b"),
            (F.col("a.ph") == F.col("b.ph"))
            & (F.col("a.rep") < F.col("b.rep"))
            & ratio(F.col("a.n_sh"), F.col("b.n_sh")),
        )
        .select(F.col("a.rep").alias("rep_a"), F.col("b.rep").alias("rep_b"))
        .distinct()
    )
    sh_new = new_reps.select(
        F.col("rep").alias("_r"), F.col("sh").alias("_sh"), F.col("n_sh").alias("_n")
    )
    sh_old = reps_old.select(
        F.col("rep").alias("_r"), F.col("sh").alias("_sh"), F.col("n_sh").alias("_n")
    )

    def verified(cand, col_a, col_b, side_b):
        a = sh_new.select(
            F.col("_r").alias(col_a),
            F.col("_sh").alias("sh_a"),
            F.col("_n").alias("n_a"),
        )
        b = side_b.select(
            F.col("_r").alias(col_b),
            F.col("_sh").alias("sh_b"),
            F.col("_n").alias("n_b"),
        )
        n_common = F.size(F.array_intersect("sh_a", "sh_b"))
        # identical rounding to ngram_jaccard_pairs so staged pairing
        # reproduces in-query pairing bit-for-bit at the threshold edge
        jac = F.round(
            n_common / (F.col("n_a") + F.col("n_b") - n_common).cast("double"), 6
        )
        return (
            cand.join(a, col_a)
            .join(b, col_b)
            .filter(jac >= t)
            .select(col_a, col_b)
        )

    cross = verified(cross_cand, "new_rep", "old_rep", sh_old)
    nn = verified(nn_cand, "rep_a", "rep_b", sh_new)

    # contracted delta graph: old reps enter as their CLUSTER LABEL
    # node (min member id of the old component; the rep itself when it
    # was an unclustered singleton)
    lbl = clusters_old.select(
        F.col("doc_id").alias("rep"), F.col("cluster_id").alias("old_label")
    )
    e_cross = (
        cross.join(lbl, cross["old_rep"] == lbl["rep"], "left")
        .select(
            F.col("new_rep").alias("id_a"),
            F.coalesce("old_label", "old_rep").alias("id_b"),
        )
    )
    e_nn = nn.select(
        F.col("rep_a").alias("id_a"), F.col("rep_b").alias("id_b")
    )
    # identical-text joins: the group is complete (Jaccard 1), so the
    # batch's min id links straight to the old rep's component
    m = matched.filter(F.col("n_sh") > 0)
    e_match = m.join(lbl, "rep", "left").select(
        F.col("nmin").alias("id_a"),
        F.coalesce("old_label", "rep").alias("id_b"),
    )
    edges = e_cross.unionByName(e_nn).unionByName(e_match).distinct()
    comp = cc_kernel(edges).localCheckpoint()  # (doc_id=node, cluster_id)

    # ---- assemble the new cluster map ----
    # (a) old rows, merged labels remapped (a node that IS an old label
    # appears in comp exactly when its component merged)
    remap = comp.select(
        F.col("doc_id").alias("cluster_id"), F.col("cluster_id").alias("_new")
    )
    part_a = clusters_old.join(remap, "cluster_id", "left").select(
        "doc_id", F.coalesce("_new", "cluster_id").alias("cluster_id")
    )
    # (b) previously-singleton old reps that just got clustered: their
    # delta-graph node was the rep id itself (the coalesce fallback)
    touched_old = (
        cross.select(F.col("old_rep").alias("rep"))
        .unionByName(m.select("rep"))
        .distinct()
    )
    part_b = (
        touched_old.join(lbl.select("rep"), "rep", "left_anti")
        .join(comp, F.col("rep") == F.col("doc_id"))
        .select(F.col("rep").alias("doc_id"), "cluster_id")
    )
    # (c) the batch's docs: group node = nmin (matched and unmatched
    # alike); pure-new complete groups (ncnt >= 2, shingled) that
    # paired with nothing still cluster on their own
    node_label = comp.select(
        F.col("doc_id").alias("node"), F.col("cluster_id").alias("_lbl")
    )
    g_matched = m.select("ch", F.col("nmin").alias("node"))
    g_new = new_reps.filter(F.col("n_sh") > 0).select(
        "ch", F.col("rep").alias("node"), "ncnt"
    )
    ch_lbl = (
        g_matched.join(node_label, "node")
        .select("ch", F.col("_lbl").alias("cluster_id"))
        .unionByName(
            g_new.join(node_label, "node").select(
                "ch", F.col("_lbl").alias("cluster_id")
            )
        )
        .unionByName(
            g_new.filter(F.col("ncnt") >= 2)
            .join(node_label, "node", "left_anti")
            .select("ch", F.col("node").alias("cluster_id"))
        )
    )
    part_c = (
        newsrc.select("id", F.md5("__canon__").alias("ch"))
        .join(ch_lbl, "ch")
        .select(F.col("id").alias("doc_id"), "cluster_id")
    )
    out = part_a.unionByName(part_b).unionByName(part_c)
    write_version(out, f"{cur}/clusters", batch_id)


def compact_dup_cluster_index(spark: SparkSession, path: str) -> None:
    """Bound the artifact's growth after many maintenance batches:
    fold every ``b=`` partition of reps/prefix/members back into the
    build partition (``b=BUILD_BATCH``) and retire all cluster
    snapshots but the pointer's target. Read-equivalent to the
    uncompacted artifact (pinned ≡ a fresh build over the full corpus
    in tests/test_round15_ops.py), and subsequent updates behave
    identically because strictly-below-batch reads see the same rows
    either way.

    Run ONLY in a maintenance window with the ingest stream stopped
    and its checkpoint committed (the ``batch_log.prune_versions`` contract):
    compaction relabels rows below every batch id, so a replay of a
    pre-compaction batch would re-apply it — the checkpoint horizon,
    not this function, is what makes that impossible. The folded
    logs and the kept snapshot commit together as the root's next
    version."""
    cur = current_dir(path)
    keep = current_version(f"{cur}/clusters")
    clusters = spark.read.parquet(f"{cur}/clusters/v={keep}")
    schema = artifact_schemas(clusters.schema["doc_id"].dataType.simpleString())

    def write(new: str) -> None:
        for rel in ("reps", "prefix", "members"):
            rows = must_read_log(spark, f"{cur}/{rel}", schema[rel]).drop("b")
            write_batch(rows, f"{new}/{rel}", BUILD_BATCH)
        write_version(clusters, f"{new}/clusters", keep)

    commit(path, write)


def read_dup_clusters(spark: SparkSession, path: str) -> DataFrame:
    """The cluster map as of the newest committed batch (pointer read
    — the reader-side convenience no update ever uses as input)."""
    return spark.read.parquet(current_dir(f"{current_dir(path)}/clusters"))
