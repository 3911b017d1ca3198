"""Deduplication operators for training-data pipelines.

Exact (hash group-by), MinHash+LSH banding, SimHash, and n-gram Jaccard
near-dup detection. Everything is *deterministic by construction* —
hashes derive from md5 of content (never a seeded RNG), so results are
reproducible across runs, engines, and cluster sizes, and the DuckDB
oracle can mirror them exactly.

Scale design notes:
- exact dedup: one hash-aggregate shuffle on the content hash; the
  map-side partial combine collapses most duplicates before the wire.
- MinHash/LSH: per-doc signature is computed in-stage (explode-free,
  higher-order functions over the shingle array); the only shuffle is
  the band-bucket self-join, whose key (band_idx, band_hash) is exactly
  the LSH bucketing — no O(n²) candidate explosion.
- SimHash: 64-bit signature in-stage, then a bucket join on rotated
  prefixes for Hamming-radius search.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nyc_opendata_etl_spark.functions.hashing import md5_long
from nyc_opendata_etl_spark.operators.text import canon_text, fingerprint


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup by content hash: one surviving id + duplicate count
    per distinct canonical text."""
    return (
        df.select(F.col(id_col), md5_long(canon_text(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def word_shingles(
    col: Column | str, n: int = 3, assume_canonical: bool = False
) -> Column:
    """Array of n-word shingles ("w1 w2 w3") over canonical tokens;
    texts shorter than n words → empty array.

    The tokenization is bound ONCE as a higher-order-function lambda
    variable (single-element ``transform``): HOF bodies are evaluated
    interpreted, without codegen's common-subexpression elimination, so
    referencing the raw ``split(canon_text(...))`` expression from every
    ``element_at`` would re-run the full per-document regex pipeline for
    every token access — O(tokens²) work per document.

    ``assume_canonical=True`` skips the ``canon_text`` wrap for columns
    that ALREADY hold canonical text (the ``__canon__`` columns every
    collapse-first call site passes): ``canon_text`` is idempotent, so
    the result is bit-identical, but the wrap re-ran lower + two
    whole-text regexp_replace passes per rep — a full extra regex scan
    of every distinct text in the dedup hot path (round-10 review
    finding)."""

    def gen(toks: Column) -> Column:
        num = F.size(toks) - (n - 1)
        sh = F.transform(
            F.sequence(F.lit(0), num - 1),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
            ),
        )
        return F.when(num > 0, sh).otherwise(F.array().cast("array<string>"))

    c = (F.col(col) if isinstance(col, str) else col) if assume_canonical else canon_text(col)
    return F.element_at(F.transform(F.array(F.split(c, " ")), gen), 1)


# Universal-hash family for the PORTABLE MinHash variant: affine maps
# over a shared md5-derived base hash, mod a Mersenne prime. Everything
# is int64-safe (A*h < 2.2e9 * 1e9 < 2^63) and expressible in any SQL
# engine, so a DuckDB oracle can replay signatures value-for-value.
MINHASH_P = 2_147_483_647
def _affine(i: int) -> tuple[int, int]:
    return (1_000_003 * (i + 1)) % MINHASH_P, (7_919 * (i + 1)) % MINHASH_P


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    portable: bool = False,
    assume_canonical: bool = False,
) -> DataFrame:
    """Deterministic MinHash signatures, one column per "permutation".

    Shape chosen for scale: explode distinct shingles → ONE hash
    aggregate computing the per-permutation min for every i — map-side
    partial mins mean the shingle fan-out never crosses the wire
    unreduced, and everything is plain codegen'd expressions (no nested
    higher-order functions, which Spark evaluates interpreted).

    Two hash families:
    - default: ``xxhash64(shingle, i)`` — native, fastest mixing;
    - ``portable=True``: ``(A_i * md5_long(shingle) + B_i) % P`` — a
      2-universal affine family over the engine-portable md5 fold, so
      the whole signature is exactly replayable in DuckDB and the
      registered query carries a full value oracle instead of a
      rows-only check.

    Returns (id, m0..m{n-1}); docs with no shingles are absent.
    """
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(
                word_shingles(text_col, assume_canonical=assume_canonical)
            )
        ).alias("shingle"),
    )
    if portable:
        from nyc_opendata_etl_spark.functions.hashing import md5_long

        sh = sh.withColumn("__h__", md5_long(F.col("shingle")))
        mins = [
            F.min((F.lit(a) * F.col("__h__") + F.lit(b)) % F.lit(MINHASH_P)).alias(
                f"m{i}"
            )
            for i, (a, b) in ((i, _affine(i)) for i in range(num_hashes))
        ]
    else:
        mins = [
            F.min(F.xxhash64("shingle", F.lit(i))).alias(f"m{i}")
            for i in range(num_hashes)
        ]
    return sh.groupBy("id").agg(*mins)


def lsh_banded_buckets(
    sig: DataFrame, num_hashes: int, bands: int, portable: bool = False
) -> DataFrame:
    """(id, band_idx, band_hash) bucket rows from a signature frame —
    the LSH banding step shared by the batch self-join
    (:func:`minhash_lsh_pairs`) and the staged incremental index
    (:func:`build_lsh_bucket_index`). One explode per signature row;
    pure expressions."""
    rows = num_hashes // bands

    def band_hash(b: int) -> Column:
        cols = [F.col(f"m{b * rows + r}") for r in range(rows)]
        if portable:
            return md5_long(F.concat_ws("|", *[c.cast("string") for c in cols]))
        return F.xxhash64(*cols)

    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        band_hash(b).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("id", "band.band_idx", "band.band_hash")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    portable: bool = False,
    collapse_exact: bool = False,
) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding.

    The signature is split into ``bands`` bands of ``num_hashes//bands``
    values; each band hashes to one bucket key and docs sharing a bucket
    become candidates (id_a < id_b, distinct). The band-bucket self-join
    is the only pairwise step — the shuffle key (band_idx, band_hash) is
    uniformly distributed OVER DISTINCT TEXTS, so no skew and no O(n²)
    blowup at 100 TB. ``portable=True`` routes both the signature and
    the band-bucket hash through the md5 family so a DuckDB oracle
    replays the exact pairs.

    ``collapse_exact=True`` first reduces byte-identical canonical
    texts to one min-id representative (the family law shared with
    :func:`ngram_jaccard_pairs` / :func:`containment_pairs`): identical
    copies share EVERY band, so a g-copy group emits C(g,2) pairs per
    band from the bucket self-join — quadratic in duplicate
    multiplicity (the 100×-replica corpus emitted 44.6M pairs where
    the collapsed run emits the same ~600 rep pairs at any copy
    count). Identical-copy enumeration belongs to exact_dedup_groups;
    off by default for consumers that expand reps themselves."""
    if collapse_exact:
        reps = _collapse_to_reps_onepass(df, text_col, id_col)
        sig = minhash_signatures(
            reps, "__canon__", "id", num_hashes,
            portable=portable, assume_canonical=True,
        )
    else:
        sig = minhash_signatures(df, text_col, id_col, num_hashes, portable=portable)

    banded = lsh_banded_buckets(sig, num_hashes, bands, portable=portable)

    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """Deterministic 64-bit SimHash per document.

    Each canonical token hashes to 64 bits; bit j votes +1/-1 on
    counter j; signature bit j = (counter_j >= 0). Formulated as
    explode → one hash-aggregate with 64 masked vote sums → bit-pack:
    a single shuffle on the doc id with map-side partial aggregation,
    which is the scalable shape (token fan-out never leaves the stage
    unreduced).

    ``portable=True`` takes the 64 bits from the first 16 hex nibbles
    of ``md5(token)`` instead of ``xxhash64`` — byte-identical in any
    engine with an md5 function, so the registered query carries a
    full DuckDB value oracle instead of a rows-only check.
    """

    def mask(j: int) -> int:
        return (1 << j) if j < 63 else -(1 << 63)

    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.filter(F.split(canon_text(text_col), " "), lambda x: x != "")).alias(
            "tok"
        ),
    )
    if portable:
        toks = toks.withColumn("__hex__", F.md5(F.col("tok")))
        nib = [
            F.conv(F.substring("__hex__", c + 1, 1), 16, 10).cast("int")
            for c in range(16)
        ]
        votes = toks.groupBy("id").agg(
            *[
                F.sum(
                    F.when(
                        nib[j // 4].bitwiseAND(F.lit(1 << (j % 4))) != 0, 1
                    ).otherwise(-1)
                ).alias(f"v{j}")
                for j in range(64)
            ]
        )
        sig = None
        for j in range(64):
            bit = F.when(F.col(f"v{j}") >= 0, F.lit(mask(j))).otherwise(F.lit(0))
            sig = bit if sig is None else sig.bitwiseOR(bit)
        return votes.select(F.col("id").alias(id_col), sig.cast("long").alias("simhash"))

    toks = toks.withColumn("h", F.xxhash64("tok"))

    votes = toks.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.lit(mask(j))) != 0, 1).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(64)
        ]
    )
    sig = None
    for j in range(64):
        bit = F.when(F.col(f"v{j}") >= 0, F.lit(mask(j))).otherwise(F.lit(0))
        sig = bit if sig is None else sig.bitwiseOR(bit)
    return votes.select(F.col("id").alias(id_col), sig.cast("long").alias("simhash"))


def _canon_src(
    df: DataFrame, text_col: str, id_col: str, assume_canonical: bool = False
) -> DataFrame:
    """(id, __canon__): the canonical-text projection every
    collapse-aware dedup operator starts from. ``assume_canonical=True``
    skips the (idempotent) canon_text regex pass for inputs that
    already carry canonical text — e.g. the rep frames collapsed
    callers hand back in (round-10 review finding: the wrap re-scanned
    every rep text for no semantic effect)."""
    c = F.col(text_col) if assume_canonical else canon_text(text_col)
    return df.select(F.col(id_col).alias("id"), c.alias("__canon__"))


def _collapse_to_reps(src: DataFrame) -> DataFrame:
    """Reduce byte-identical canonical texts to their min-id
    representative rows (id, __canon__), in ONE aggregate:
    ``groupBy(md5(canon)).agg(min(id), min_by(canon, id))``. Keyed on
    the full 128-bit md5 (not the 10^9-fold — a 500k-doc corpus would
    expect ~100 fold collisions, silently merging distinct texts).
    Every row in a group carries the identical canon (the md5 key), so
    min_by is value-deterministic; min(id) is the shared tie-break law.

    History: until late round 9 this was a join-back shape (hash-agg
    rep ids, rejoin src on id, "texts never cross the shuffle"). That
    claim didn't survive measurement: the join-back scans the corpus
    and runs the canonicalization regexes TWICE (once per join side),
    and even when AQE converts the rep-id join to broadcast it has
    already paid the probe side's map shuffle write — at the 100×
    documents replica the join-back collapse costs 65 s where this
    one-pass form costs 25 s. Trade-off stated honestly: here the
    canon TEXT crosses the exchange, but map-side partial aggregation
    reduces each task to its DISTINCT canons first, so the shuffle
    volume is bounded by |distinct| per task — tiny on duplicate-heavy
    corpora (the dedup case), and on an all-unique corpus equal to the
    one shuffle-write pass the join-back shape paid anyway. Pinned
    against an independent canon-groupBy spec in
    tests/test_round9_ops.py."""
    return (
        src.groupBy(F.md5("__canon__").alias("__ch__"))
        .agg(
            F.min("id").alias("id"),
            F.min_by("__canon__", "id").alias("__canon__"),
        )
        .select("id", "__canon__")
    )


def _collapse_to_reps_onepass(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """`_collapse_to_reps` over the raw (df, text_col, id_col) shape —
    kept as the named entry point the adaptive-SNM/MinHash call sites
    and the kernel-equality pin use."""
    return _collapse_to_reps(_canon_src(df, text_col, id_col))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    collapse_exact: bool = False,
    assume_canonical: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs above a threshold, via
    PREFIX FILTERING (AllPairs/PPJoin family) — lossless for the
    threshold predicate.

    A naive inverted-index self-join blows up on common shingles
    (Σ c_s² pairs for a shingle in c_s docs — quadratic in document
    frequency, hopeless at 100 TB). Instead: hash each doc's distinct
    shingles (xxhash64), sort the hash array canonically (a proxy for
    rarest-first that needs no global DF pass), and index only the first
    ``|A| - ⌈t·|A|⌉ + 1`` hashes. Two sets with Jaccard ≥ t MUST share
    an indexed prefix element, so the candidate join touches a small
    slice of the inverted index. Crucially the exploded index rows carry
    only ``(id, n_sh, hash)`` — the full arrays are re-fetched by
    joining candidates back to the compact docs relation, avoiding an
    O(prefix·|sh|) array-duplication blowup through the explode/join.
    A length-ratio filter (t·|A| ≤ |B| ≤ |A|/t) prunes candidates before
    the exact array_intersect verify.

    ``collapse_exact=True`` first reduces byte-identical canonical texts
    to one min-id representative (see :func:`containment_pairs` — a
    group of g identical docs otherwise multiplies every shared-shingle
    posting count by g, turning the candidate join quadratic in g; a
    100-copy-group corpus ground >10 min where the collapsed run is
    scan-bound). Off by default because pair CONSUMERS that must see
    every member (duplicate_clusters, keep-best) do their own
    collapse + expand instead.
    """
    src = _canon_src(df, text_col, id_col, assume_canonical=assume_canonical)
    if collapse_exact:
        src = _collapse_to_reps(src)
    # docs is referenced FOUR times below (both prefix-join sides + both
    # verify sides); without materialization each reference re-ran the
    # corpus scan, the canonicalization regexes and the collapse shuffle
    # (4 parquet scans in the uncut plan). One localCheckpoint pins the
    # compact (id, hashes) proxy — shingle HASHES, never text, so the
    # materialized footprint is the metadata relation, not the corpus.
    # DISK_ONLY: the proxy is still O(distinct docs) rows of hash
    # arrays; default-level (deserialized in-memory) blocks pin unified
    # memory and can starve execution at scale (observed on the
    # market-basket proxy at the 100× replica) — serialized local-disk
    # blocks cost one write+read and leave execution memory alone.
    docs = (
        src.select(
            "id",
            F.array_sort(
                F.transform(
                    F.array_distinct(word_shingles("__canon__", n, assume_canonical=True)),
                    lambda s: F.xxhash64(s),
                )
            ).alias("sh"),
        )
        .withColumn("n_sh", F.size("sh"))
        .filter(F.col("n_sh") > 0)
        .localCheckpoint(storageLevel=StorageLevel.DISK_ONLY)
    )
    prefix_len = (F.col("n_sh") - F.ceil(F.col("n_sh") * threshold) + 1).cast("int")
    pref = docs.select(
        "id",
        "n_sh",
        F.explode(F.slice(F.col("sh"), 1, prefix_len)).alias("ph"),
    )

    a = pref.alias("a")
    b = pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.ph") == F.col("b.ph"))
            & (F.col("a.id") < F.col("b.id"))
            # length-ratio filter: Jaccard >= t needs t*|A| <= |B| <= |A|/t
            & (F.col("b.n_sh") >= F.col("a.n_sh") * threshold)
            & (F.col("a.n_sh") >= F.col("b.n_sh") * threshold),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    da = docs.select(
        F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("n_sh").alias("n_a")
    )
    db = docs.select(
        F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("n_sh").alias("n_b")
    )
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    jaccard = F.round(
        n_common / (F.col("n_a") + F.col("n_b") - n_common).cast("double"), 6
    )
    return (
        cand.join(da, "id_a")
        .join(db, "id_b")
        .withColumn("jaccard", jaccard)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def duplicate_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over near-duplicate pairs → (id, cluster_id)
    with cluster_id = min member id (the canonical survivor).

    Iterative min-label propagation (HashToMin family): each round every
    node takes the minimum label among itself and its neighbors; the
    loop converges in O(component diameter) rounds — near-dup clusters
    are shallow (dups of dups of one original), so single digits in
    practice. Each round is one shuffle join + one hash aggregate;
    ``localCheckpoint`` truncates the lineage so the plan doesn't grow
    exponentially across iterations (the standard Spark idiom for
    iterative algorithms). The driver-side loop carries only the
    convergence bit, never data.

    Round 1 is FUSED: the initial labeling is the identity map, so the
    first propagation join degenerates to the edge list itself and the
    whole round is one aggregate over edges — min(dst) per src, least'd
    with src — with no join and no separate node-set job. For the
    dominant near-dup shape (cliques: every member directly adjacent to
    the min) the loop then needs exactly ONE join round to confirm the
    fixpoint, versus four join rounds in the unfused two-per-batch form.

    ``max_iter`` counts TOTAL propagation rounds INCLUDING the fused
    first round: the loop runs at most ``max_iter - 1`` join rounds on
    top of it (``range(1, max_iter)`` — the fused aggregate IS round 1
    of the same label map), so the convergence bound is unchanged from
    the pre-fusion form; components up to ``max_iter`` hops deep still
    converge (VERDICT r16 item 5 — accounting documented, not a
    shrunken bound).
    """
    e = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    # fused round 1 (identity labels make the propagation join trivial);
    # every node appears as src in the bidirectional edge set, so this
    # also covers the initial node enumeration
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select(F.col("src").alias("id"), F.least("src", "mn").alias("label"))
        .localCheckpoint()
    )

    def one_round(lbl: DataFrame) -> DataFrame:
        prop = edges.join(lbl, edges["dst"] == lbl["id"]).select(
            F.col("src").alias("id"), "label"
        )
        return lbl.union(prop).groupBy("id").agg(F.min("label").alias("label"))

    # Convergence is detected by comparing sum(label) across rounds:
    # every label is monotonically non-increasing (min over self +
    # neighbors), so an unchanged total proves no label moved — the
    # round map is deterministic, so one unchanged round is a fixpoint.
    # One cheap hash aggregate per round instead of a self-join.
    # DECIMAL(38) keeps the sum exact for arbitrary 64-bit ids at any
    # row count.
    def label_sum(lbl: DataFrame):
        return lbl.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    prev_sum = label_sum(labels)
    changed = 1
    for _ in range(1, max_iter):
        labels = one_round(labels).localCheckpoint()
        cur_sum = label_sum(labels)
        if cur_sum == prev_sum:
            changed = 0
            break
        prev_sum = cur_sum
    if changed != 0:
        # A component with diameter > max_iter would silently come out
        # SPLIT (wrong clusters, not an error) — make that loud instead.
        # The early-exit above makes a generous max_iter nearly free on
        # converged data, so hitting this means a pathological chain.
        raise RuntimeError(
            f"duplicate_clusters: label propagation did not converge within "
            f"{max_iter} rounds; raise max_iter (components deeper than "
            f"max_iter hops would otherwise be silently split)"
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def duplicate_clusters_logstar(pairs: DataFrame, max_iter: int = 12) -> DataFrame:
    """Connected components over near-duplicate pairs → (id, cluster_id)
    with cluster_id = min member id — OUTPUT-IDENTICAL to
    :func:`duplicate_clusters`, but via the two-phase large-star /
    small-star alternation (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC 2014), which converges in O(log n)
    ROUNDS regardless of component shape. Min-label propagation's round
    count is the component DIAMETER: a chain-shaped dup cluster (doc A
    near-dups B near-dups C …, each hop under the threshold but
    neighbors over it) makes it unbounded at 100 TB; star contraction
    halves path lengths every alternation instead.

    Per round, each phase is ONE shuffle of the current edge set: the
    per-center minimum m(u) is attached with a partition-wide window
    ``min`` (all rows of a center land in one task either way — the
    same layout the old groupBy+self-join needed, minus the join and
    the second pass over the edges), then the re-attachment is a pure
    projection:

    - large-star (center u): every STRICTLY LARGER neighbor v > u
      re-attaches to m(u) = min(Γ(u) ∪ {u});
    - small-star (edges oriented big→small; center u over its smaller
      neighbors Γ⁻): every x ∈ Γ⁻(u) ∪ {u} with x ≠ m(u) = min(Γ⁻(u))
      attaches to m(u).

    Both preserve connectivity and only ever point nodes at smaller
    ids; the fixed point is a star per component centered on its min
    id. Convergence detection: the canonicalized edge set's (count,
    Σsrc, Σdst, Σxxhash64) 4-tuple — exact decimal sums, no label
    relation to maintain. Each round ends in ``localCheckpoint`` to
    truncate iterative lineage (the shared idiom with
    duplicate_clusters)."""
    e = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    # canonical big→small orientation, self-loops impossible (id_a<id_b)
    edges = (
        e.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .distinct()
        .localCheckpoint()
    )

    def _sig(ed: DataFrame):
        return ed.agg(
            F.count("*").alias("n"),
            F.sum(F.col("src").cast("decimal(38,0)")).alias("ss"),
            F.sum(F.col("dst").cast("decimal(38,0)")).alias("sd"),
            F.sum(
                F.xxhash64(F.col("src"), F.col("dst")).cast("decimal(38,0)")
            ).alias("sh"),
        ).collect()[0]

    w_center = Window.partitionBy("src")

    def large_star(ed: DataFrame) -> DataFrame:
        bidir = ed.union(
            ed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        withm = bidir.withColumn(
            "m", F.least(F.min("dst").over(w_center), F.col("src"))
        )
        return (
            withm.filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .distinct()
        )

    def small_star(ed: DataFrame) -> DataFrame:
        # ed is big→small oriented: Γ⁻(u) = dsts of u's rows
        withm = ed.withColumn("m", F.min("dst").over(w_center))
        nbr_edges = withm.filter(F.col("dst") != F.col("m")).select(
            F.col("dst").alias("src"), F.col("m").alias("dst")
        )
        # one (u, m(u)) row per center; duplicates collapse in the
        # closing distinct shared with nbr_edges
        center_edges = withm.select("src", F.col("m").alias("dst"))
        return nbr_edges.union(center_edges).distinct()

    prev = _sig(edges)
    converged = False
    for _ in range(max_iter):
        edges = small_star(large_star(edges)).localCheckpoint()
        cur = _sig(edges)
        if (cur["n"], cur["ss"], cur["sd"], cur["sh"]) == (
            prev["n"],
            prev["ss"],
            prev["sd"],
            prev["sh"],
        ):
            converged = True
            break
        prev = cur
    if not converged:
        # log2(n) rounds suffice by the contraction bound; hitting this
        # means max_iter was set below that, not a data pathology.
        raise RuntimeError(
            f"duplicate_clusters_logstar: star contraction did not reach a "
            f"fixed point within {max_iter} rounds; raise max_iter "
            f"(needs ~log2(nodes) rounds)"
        )
    # fixed point: edges = (member, component_min) stars; the center
    # itself labels as its own min
    members = edges.select(
        F.col("src").alias("doc_id"), F.col("dst").alias("cluster_id")
    )
    centers = edges.select("dst").distinct().select(
        F.col("dst").alias("doc_id"), F.col("dst").alias("cluster_id")
    )
    return members.union(centers)


def duplicate_clusters_collapsed(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_iter: int = 20,
    cc_kernel=None,
) -> DataFrame:
    """Connected components over exact-Jaccard near-dup pairs, computed
    the scale-correct way: collapse byte-identical canonical texts to
    min-id representatives, cluster the REPRESENTATIVE pair graph, then
    expand membership back to every doc. Output is IDENTICAL to
    ``duplicate_clusters(ngram_jaccard_pairs(df))`` — the driver's
    unchanged recursive-CTE oracle is the equivalence proof — because:

    - Jaccard is a function of the shingle set, hence of the canonical
      text: every member of a group has exactly its representative's
      edges, so full-graph components are the expansion of rep-graph
      components.
    - A group of g ≥ 2 identical docs (with ≥ 1 shingle) is internally
      complete (jaccard 1.0 ≥ t), so it forms a cluster even when its
      rep is isolated in the rep graph — the second output leg.
    - cluster_id = min member id = min rep id in the component, since
      each rep is already its group's minimum.

    Cost: the pair join and the propagation loop run on distinct texts
    only — a g-copy group contributes g rows to two linear joins
    instead of multiplying every shared-shingle posting count by g
    (quadratic candidates; a 100-copy-group corpus ground >10 min
    before this rewrite, BASELINE.md round-7 100× table).
    """
    # ONE corpus aggregate carries everything the rest needs: rep id,
    # group size, and the rep's canon text (min_by is value-
    # deterministic — all rows in a group share the md5-keyed canon).
    # grp (~|distinct| rows) and mem (one small row per doc) are
    # persisted with an eager one-job fill (the warehouse probe-cache
    # pattern) because the pair join, the membership expansion, the
    # isolated-group leg and has_sh all branch from them — uncached,
    # the lineage re-ran the full corpus canon scan per branch (5-8
    # scans; 2/3 of dedup_clusters' 168 s at the 100× replica).
    src = _canon_src(df, text_col, id_col)
    grp = (
        src.groupBy(F.md5("__canon__").alias("__ch__"))
        .agg(
            F.min("id").alias("rep"),
            F.count("*").alias("g"),
            F.min_by("__canon__", "id").alias("__canon__"),
        )
        .persist()
    )
    mem = (
        src.select("id", F.md5("__canon__").alias("__ch__"))
        .join(grp.select("__ch__", "rep", "g"), "__ch__")
        .select("id", "rep", "g")
        .persist()
    )
    # ONE eager fill for BOTH caches (r17): mem's join reads grp's
    # InMemoryRelation, so materializing mem read-through-fills grp —
    # the previous separate grp.count() was a redundant pass (its own
    # corpus canon scan + AQE stage jobs) before mem scanned the corpus
    # again anyway.
    mem.count()
    rep_docs = grp.select(F.col("rep").alias("id"), "__canon__")
    rep_pairs = ngram_jaccard_pairs(
        rep_docs,
        text_col="__canon__",
        id_col="id",
        n=n,
        threshold=threshold,
        assume_canonical=True,
    )
    # the CC kernel is pluggable (min-label propagation by default;
    # duplicate_clusters_logstar is the O(log n)-round alternative) —
    # both return (doc_id, cluster_id=min member id), so the collapse/
    # expand envelope is kernel-agnostic
    if cc_kernel is None:
        cc_kernel = duplicate_clusters
    rep_clusters = cc_kernel(rep_pairs, max_iter=max_iter).select(
        F.col("doc_id").alias("rep"), "cluster_id"
    )
    linked = mem.join(rep_clusters, "rep").select("id", "cluster_id")
    # groups of ≥2 identical docs whose rep pairs with nothing else
    # still form their own cluster (internally complete at jaccard 1.0)
    # — but only if the text has at least one shingle (shingle-less
    # docs never pair in the full formulation either).
    has_sh = rep_docs.select(
        F.col("id").alias("rep"),
        (F.size(F.array_distinct(word_shingles("__canon__", n, assume_canonical=True))) > 0).alias(
            "__has_sh__"
        ),
    )
    self_groups = (
        mem.join(rep_clusters.select("rep"), "rep", "left_anti")
        .filter(F.col("g") >= 2)
        .join(has_sh.filter(F.col("__has_sh__")).select("rep"), "rep")
        .select("id", F.col("rep").alias("cluster_id"))
    )
    # Materialize the membership result (bounded: one row per clustered
    # doc) so grp/mem can be unpersisted HERE — returning a lazy frame
    # over persisted inputs leaked two cached DataFrames per call for
    # the lifetime of the session. The eager checkpoint also lets
    # callers branch on the result (keep-best joins it twice) without
    # re-running the expansion joins.
    out = (
        linked.unionByName(self_groups)
        .select(F.col("id").alias("doc_id"), "cluster_id")
        .localCheckpoint()
    )
    grp.unpersist()
    mem.unpersist()
    return out


def substring_dup_groups(
    docs: DataFrame,
    length: int = 40,
    stride: int = 10,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact SUBSTRING-level duplication: find character sequences of
    ``length`` repeated across documents — the signal behind
    suffix-array substring dedup in LLM corpus curation (memorizable
    boilerplate, licenses, templated passages survive document-level
    dedup because the containing docs differ). Each doc's canonical
    text is cut into char shingles every ``stride`` positions, shingles
    hash through the engine's md5-affine convention (DuckDB-replayable),
    and hash groups spanning >= min_docs distinct docs are the
    duplicated sequences: (shingle_hash, n_occurrences, n_docs,
    first_doc_id).

    Scale shape: the shingle explode is scan-stage-local (~chars/stride
    rows per doc) into ONE map-side-combined aggregate keyed by hash —
    embarrassingly parallel, no joins. Production corpora run this as
    two phases (coarse stride to find candidate regions, stride-1
    verify inside candidates — same operator, two calls) or a true
    suffix array per shard; the single-call form here is the verify
    kernel. stride > 1 detects repeats whose copies are stride-aligned
    (full-document copies and append-only edits; arbitrary-offset
    repeats need the stride-1 pass)."""
    t = canon_text(F.col(text_col))
    shingles = F.when(
        F.length(t) >= length,
        F.expr(
            f"transform(sequence(1, length(__t__) - {length - 1}, {stride}),"
            f" p -> substring(__t__, p, {length}))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = (
        docs.withColumn("__t__", t)
        .select(F.col(id_col), F.explode(shingles).alias("s"))
    )
    return (
        sh.groupBy(md5_long(F.col("s")).alias("shingle_hash"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct(id_col).cast("long").alias("n_docs"),
            F.min(id_col).alias("first_doc_id"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.9,
    collapse_exact: bool = True,
) -> DataFrame:
    """Directed shingle-CONTAINMENT pairs: C(A→B) = |A∩B| / |A| ≥ t,
    A ≠ B — the asymmetric near-dup axis Jaccard misses. A short
    document quoted verbatim inside a long one has tiny Jaccard (the
    union is dominated by B) but containment ≈ 1; this is the
    doc-inside-doc / quotation / boilerplate-envelope signal a corpus
    dedup pass needs alongside the symmetric measures.

    Prefix filtering adapts to the asymmetric predicate: if
    |A∩B| ≥ t·|A| then at most |A| − ⌈t·|A|⌉ of A's shingles fall
    outside B, so A's first |A| − ⌈t·|A|⌉ + 1 canonically-sorted
    hashes MUST hit B (pigeonhole) — only the contained side explodes
    a prefix; the container side posts its full shingle index (no size
    bound exists on B for containment, unlike Jaccard's length-ratio
    prune). Candidates then verify exactly via array_intersect on the
    compact per-doc arrays. Candidate cost is Σ_s c_s·p_s over shared
    shingles (p_s = prefix postings, a small fraction of c_s); at
    corpus scale the container index would additionally be pruned
    rarest-first by document frequency before posting.

    ``collapse_exact`` (default True) first collapses byte-identical
    canonical texts to one min-id representative — the exact-dedup-first
    pipeline ordering every production near-dup pass uses. Without it,
    a group of g identical docs contributes g·(g−1) containment-1.0
    pairs (already exact_dedup_groups' territory) and the shared-shingle
    candidate term c_s·p_s grows quadratically in g: on a corpus with
    100-copy duplicate groups the candidate join OOMed a 32-thread
    executor, while the collapsed run is flat (BASELINE.md round-7
    table).
    """
    src = _canon_src(df, text_col, id_col)
    if collapse_exact:
        src = _collapse_to_reps(src)
    # four references below (prefix, full-index, both verify sides) —
    # materialize the compact hash proxy once instead of re-running the
    # scan + canon regexes + collapse per reference (the
    # ngram_jaccard_pairs rationale, same shape)
    docs = (
        src.select(
            "id",
            F.array_sort(
                F.transform(
                    F.array_distinct(word_shingles("__canon__", n, assume_canonical=True)),
                    lambda s: F.xxhash64(s),
                )
            ).alias("sh"),
        )
        .withColumn("n_sh", F.size("sh"))
        .filter(F.col("n_sh") > 0)
        # DISK_ONLY: same O(docs)-of-hash-arrays proxy rationale as
        # ngram_jaccard_pairs above — don't pin unified memory.
        .localCheckpoint(storageLevel=StorageLevel.DISK_ONLY)
    )
    prefix_len = (F.col("n_sh") - F.ceil(F.col("n_sh") * threshold) + 1).cast("int")
    pref = docs.select("id", F.explode(F.slice(F.col("sh"), 1, prefix_len)).alias("ph"))
    full = docs.select("id", F.explode("sh").alias("ph"))

    cand = (
        pref.alias("a")
        .join(full.alias("b"), (F.col("a.ph") == F.col("b.ph")) & (F.col("a.id") != F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    da = docs.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("n_sh").alias("n_a"))
    db = docs.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    containment = F.round(
        F.size(F.array_intersect("sh_a", "sh_b")) / F.col("n_a").cast("double"), 6
    )
    return (
        cand.join(da, "id_a")
        .join(db, "id_b")
        .withColumn("containment", containment)
        .filter(F.col("containment") >= threshold)
        .select(
            F.col("id_a").alias("contained_id"),
            F.col("id_b").alias("container_id"),
            "containment",
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    window: int = 3,
    threshold: float = 0.5,
    block_len: int = 3,
) -> DataFrame:
    """Sorted-neighborhood near-dup pairs (Hernández–Stolfo SNM): sort
    each block of the corpus by canonical text and compare every doc
    only to its ``window`` successors, verifying candidates with exact
    n-gram Jaccard ≥ ``threshold``.

    The third blocking family next to LSH banding (minhash_lsh_pairs)
    and prefix filtering (ngram_jaccard_pairs): work is O(rows × window)
    instead of all-pairs, and near-dups that share a canonical prefix
    land adjacent in sort order. Pairs whose texts diverge in the first
    ``block_len`` characters are out of scope by contract (the recall
    knob every SNM deployment tunes).

    Collapse-first (round 10): byte-identical canonical texts reduce to
    one min-id representative BEFORE the window stage, like every other
    pair generator in this module. The round-9 output-scale audit
    flagged the pre-collapse formulation: a g-copy duplicate group
    occupied g window slots, emitting Θ(g·window) jaccard-1.0
    identical-copy pairs (1.47M rows at the 100× replica — output that
    GROWS with duplicate multiplicity) while burying distinct-text
    neighbors beyond the window horizon. Identical-copy groups are
    exact_dedup_groups' territory; the rep formulation makes the output
    scale-invariant AND strictly improves distinct-text recall (every
    window slot now holds a distinct canon). On a duplicate-free corpus
    the two formulations are bit-identical (pinned in
    tests/test_round9_ops.py::test_adaptive_cold_blocks_bit_match_fixed_snm).

    Scale shape: one map-side-combined exchange for the collapse
    (:func:`_collapse_to_reps_onepass`), one shuffle on the block key;
    each block sorts independently (Window.partitionBy — NOT a global
    orderBy window, which would serialize the corpus through one task).
    The lead() comparisons stay inside the sorted partition, so no
    self-join and no candidate explosion; a hot block bounds the worst
    task at O(block × window) comparisons over REPS (duplicate skew
    cannot re-inflate a block).
    """
    reps = _collapse_to_reps_onepass(df, text_col, id_col).select(
        "id",
        F.col("__canon__").alias("canon"),
        F.array_sort(
            F.array_distinct(word_shingles(F.col("__canon__"), n, assume_canonical=True))
        ).alias("sh"),
    ).filter(F.size("sh") > 0)
    keyed = reps.withColumn("blk", F.substring("canon", 1, block_len))
    return _snm_window_pairs(keyed, window, threshold)


def _snm_window_pairs(keyed: DataFrame, window: int, threshold: float) -> DataFrame:
    """Shared SNM comparison stage: per-block canonical sort, lead()
    neighbors up to ``window``, exact shingle-Jaccard ≥ ``threshold``.
    Expects columns (id, canon, sh, blk); each block sorts in its own
    task (Window.partitionBy — never a global orderBy).

    ONE window pass (r16 optimization): the per-slot branches of the
    original formulation each re-ran the whole upstream pipeline —
    the plan held ``window`` copies of collapse + block shuffle +
    Sort + Window (3 Window nodes at window=3), because only
    exchanges get runtime reuse, never the Window/Sort compute above
    them. The slots now ride a single struct array per row and one
    explode replaces the union: the corpus is collapsed, shuffled and
    sorted exactly once. Per-slot rows (non-NULL neighbor, Jaccard
    filter, least/greatest orientation) are unchanged, so the emitted
    pair multiset is identical."""
    from pyspark.sql import Window as W

    w = W.partitionBy("blk").orderBy("canon", "id")
    # window expressions must sit at the top level of a projection, so
    # the leads land as flat columns first; the array pack + explode
    # is a second projection over the SINGLE window pass
    neighbors = keyed.select(
        "id",
        "sh",
        *[F.lead("id", i).over(w).alias(f"nid_{i}") for i in range(1, window + 1)],
        *[F.lead("sh", i).over(w).alias(f"nsh_{i}") for i in range(1, window + 1)],
    )
    slots = F.array(
        *[
            F.struct(
                F.col(f"nid_{i}").alias("nid"), F.col(f"nsh_{i}").alias("nsh")
            )
            for i in range(1, window + 1)
        ]
    )
    nb = neighbors.select(
        "id",
        "sh",
        F.explode(F.filter(slots, lambda s: s["nid"].isNotNull())).alias("s"),
    )
    inter = F.size(F.array_intersect("sh", F.col("s.nsh")))
    union = F.size("sh") + F.size(F.col("s.nsh")) - inter
    return (
        nb.select(
            F.least("id", F.col("s.nid")).alias("id_a"),
            F.greatest("id", F.col("s.nid")).alias("id_b"),
            F.round(inter / union.cast("double"), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


#: Separator between a prefix block key and its hash-salt suffix; never
#: collides with a bare prefix key because canon_text output is
#: printable (control chars collapse to spaces).
SNM_SALT_SEP = "\x1f"


def adaptive_block_keys(
    reps: DataFrame,
    block_len: int = 3,
    block_cap: int = 20,
    max_doublings: int = 3,
) -> DataFrame:
    """Assign each representative doc its measured SNM block key.

    Per-prefix counts are measured at every doubling level in ONE
    aggregate over the deepest prefix plus tiny rollups (counts at
    length L are exact sums of the length-2L table — prefixes nest), so
    the measurement costs one scan regardless of levels. Each doc takes
    the SHORTEST prefix whose block holds ≤ ``block_cap`` reps; a block
    still hot at the deepest prefix (``block_len·2^max_doublings``
    chars) splits by a deterministic md5 salt into ⌈n/cap⌉ buckets, so
    NO block key can serialize an unbounded sort — the bound is
    unconditional up to md5 uniformity over distinct canons (identical
    canons collapsed before this point, so the adversarial mass-duplicate
    case cannot concentrate a salt bucket). Expects (id, canon, sh);
    returns the same plus ``blk``. Pure function of the corpus — a SQL
    oracle replays keys exactly.

    Plan shape: the deepest-prefix count table gets its coarser-level
    counts as window sums over itself (prefixes nest, so they are exact
    rollups — 3 tiny exchanges of the count relation), and reps join
    that DECISION table once on the deepest prefix. No broadcast hint:
    the 3-char count table is alphabet-bounded but the deepest-prefix
    table scales with |distinct prefixes|, so AQE broadcasts it while
    it fits and degrades to a skew-free uniform-key shuffle join when
    it doesn't — one reps-side join either way (round 9 replaced four
    chained per-level broadcast joins, one of which force-broadcast the
    unbounded deepest table)."""
    from pyspark.sql import Window as W

    lens = [block_len * (2**i) for i in range(max_doublings + 1)]
    deepest = lens[-1]
    dec = reps.groupBy(F.substring("canon", 1, deepest).alias("p")).agg(
        F.count(F.lit(1)).alias(f"n{deepest}")
    )
    for cur in lens[:-1]:
        dec = dec.withColumn(
            f"n{cur}",
            F.sum(f"n{deepest}").over(W.partitionBy(F.substring("p", 1, cur))),
        )
    keyed = reps.join(dec, F.substring("canon", 1, deepest) == F.col("p")).drop("p")
    choose = F.when(
        F.col(f"n{lens[0]}") <= block_cap, F.substring("canon", 1, lens[0])
    )
    for length in lens[1:]:
        choose = choose.when(
            F.col(f"n{length}") <= block_cap, F.substring("canon", 1, length)
        )
    n_splits = F.ceil(F.col(f"n{deepest}") / F.lit(block_cap))
    salt = (md5_long(F.col("canon")) % n_splits).cast("string")
    choose = choose.otherwise(
        F.concat(F.substring("canon", 1, deepest), F.lit(SNM_SALT_SEP), salt)
    )
    return keyed.select("id", "canon", "sh", choose.alias("blk"))


def sorted_neighborhood_pairs_adaptive(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    window: int = 3,
    threshold: float = 0.5,
    block_len: int = 3,
    block_cap: int = 20,
    max_doublings: int = 3,
) -> DataFrame:
    """:func:`sorted_neighborhood_pairs` with the hot-block sort bounded
    by MEASUREMENT instead of configuration — the two round-7 scale
    lessons composed:

    1. **exact-collapse-first**: byte-identical canonical texts reduce
       to one min-id representative before anything sorts, so a block
       that is hot because the corpus holds 100k copies of one document
       (the skew real corpora have) collapses to size 1; within-group
       identical pairs are exact_dedup_groups' territory, as in the
       jaccard/containment rewrites.
    2. **count-driven prefix doubling, bounded unconditionally**:
       per-block representative counts are measured at every doubling
       level ``block_len·2^i`` for i ≤ ``max_doublings`` (one scan +
       window-sum rollups into a decision table, joined back with AQE
       choosing broadcast vs shuffle); each doc blocks at the shortest
       prefix that fits ``block_cap``, and a block still hot at the
       deepest prefix splits by deterministic md5 salt into ⌈n/cap⌉
       buckets (:func:`adaptive_block_keys`). Round 8 shipped ONE
       extension level, leaving a block hot at 6 chars serialized; the
       recursion + salt close that residual. The recall contract — SNM
       only compares docs sharing the block key — is per-block: cold
       blocks keep base-length recall, hot blocks trade prefix-divergent
       (or cross-salt) pairs for bounded tasks, the knob every SNM
       deployment tunes by hand; here the data picks.

    Output is representative pairs (id_a < id_b, trigram Jaccard ≥
    threshold) — deterministic, SQL-replayable: the block counts, the
    extension decisions, the salt, and the window order are all pure
    functions of the corpus. The collapse is the one-pass agg twin of
    the shared md5-keyed kernel (:func:`_collapse_to_reps_onepass`:
    one corpus scan, one map-side-combined exchange, no join-back), and
    the tiny rep frame is localCheckpoint-ed so the decision-table
    aggregate, the decision join, and the window stage all read ~|reps|
    cached rows instead of re-executing the corpus collapse — without
    the checkpoint the lineage re-runs it up to three times. Measured
    at the 100× replica: 131.6 → 29 s for the whole query, output
    invariant (241 pairs)."""
    reps = (
        _collapse_to_reps_onepass(df, text_col, id_col)
        .select(
            "id",
            F.col("__canon__").alias("canon"),
            F.array_sort(
                F.array_distinct(word_shingles(F.col("__canon__"), n, assume_canonical=True))
            ).alias("sh"),
        )
        .filter(F.size("sh") > 0)
        .localCheckpoint()
    )
    keyed = adaptive_block_keys(
        reps, block_len=block_len, block_cap=block_cap, max_doublings=max_doublings
    )
    return _snm_window_pairs(keyed, window, threshold)


# ──────────────────────────────────────────────────────────────────────
# Fingerprint index: the write-time answer to incremental dedup.
#
# An incremental dedup that re-scans and re-canonicalizes the FULL
# historical corpus per increment is correct but O(corpus) per batch —
# 62 s at the 100× replica, and at 100 TB a full-text re-read per
# hourly ingest. The lakehouse answer mirrors build_text_index
# (operators/text.py): persist the corpus's content fingerprints ONCE
# at write time (two 8-byte columns per canon vs the full text), then
# probe each (small) increment against them.
#
# The index is a refcounted delta log: ``(h, cnt)`` rows, partitioned
# by ``b``. A build writes per-canon doc counts, updates append positive
# deltas and deletions append NEGATIVE deltas, so every direction of
# maintenance is an O(batch) write that never reads the index. A canon
# is live iff SUM(cnt) > 0 — which a probe evaluates over just the
# batch's hashes, so a takedown is visible at the next probe, not only
# after compaction (whether a text is "new" after a takedown cannot
# wait for the nightly rewrite). Compaction
# (operators/index_maintenance.py) folds the log to exact live rows.
#
# Partitions of ``b``: build, update and compaction write ``-1``,
# deletions ``-2``, and a streaming micro-batch (streaming/ingest.py)
# its own batch id (always ≥ 0) by dynamic overwrite, so the ingest's
# probe can exclude the current batch on replay with a partition filter.
# ──────────────────────────────────────────────────────────────────────

#: Reserved index partitions; real micro-batch ids are >= 0.
COMPACTED_B = -1
TAKEDOWN_B = -2

#: The index's on-disk relation, read with this schema rather than
#: inferred, so a log with no part file (an empty build, or a compaction
#: of a fully withdrawn log) still reads as an empty index.
FINGERPRINT_INDEX_SCHEMA = "h long, cnt long, b long"

#: Files in a build or compaction (range-sorted on ``h``).
_INDEX_FILES = 8


def _canon_deltas(docs: DataFrame, text_col: str, sign: int = 1) -> DataFrame:
    """``(h, cnt)``: per-canon doc count of ``docs``, times ``sign``.
    The hash is the md5-derived fingerprint the exact-dedup family
    uses (:func:`~nyc_opendata_etl_spark.operators.text.fingerprint`),
    so an indexed probe is bit-identical to re-hashing the corpus."""
    return (
        docs.select(fingerprint(text_col).alias("h"))
        .groupBy("h")
        .agg((F.count(F.lit(1)) * sign).cast("long").alias("cnt"))
    )


def write_fingerprint_log(
    deltas: DataFrame, path: str, b: int, overwrite: str | None = None
) -> None:
    """Write ``(h, cnt)`` rows under partition ``b`` of the log at
    ``path``: appended, or with ``overwrite`` as the
    ``partitionOverwriteMode`` — ``"dynamic"`` replaces only partition
    ``b`` (an idempotent micro-batch replay), ``"static"`` the whole
    directory. The session default is dynamic, so a write that must
    drop old partitions has to say static."""
    w = deltas.withColumn("b", F.lit(b)).write.partitionBy("b")
    if overwrite is None:
        w = w.mode("append")
    else:
        w = w.mode("overwrite").option("partitionOverwriteMode", overwrite)
    w.parquet(path)


def write_live_fingerprints(counts: DataFrame, path: str) -> None:
    """Replace the whole directory at ``path`` with the ``(h, cnt)``
    rows of ``counts`` under ``b = -1``, range-partitioned and sorted on
    ``h`` so footer min/max bounds each file. Shared by the build and
    by compaction."""
    write_fingerprint_log(
        counts.repartitionByRange(_INDEX_FILES, "h").sortWithinPartitions("h"),
        path,
        COMPACTED_B,
        overwrite="static",
    )


def build_fingerprint_index(docs: DataFrame, path: str, text_col: str = "text") -> None:
    """Write the fingerprint index of a corpus: one ``(h, cnt)`` row per
    distinct canonical text, ``cnt`` = number of docs sharing it. Any
    earlier log at ``path`` — takedowns and batch partitions included —
    is replaced."""
    write_live_fingerprints(_canon_deltas(docs, text_col), path)


def update_fingerprint_index(
    new_docs: DataFrame, path: str, text_col: str = "text"
) -> None:
    """Append a new batch's per-canon doc counts as positive deltas —
    O(new docs); the index is never re-read. Probes sum repeated
    canons; compaction folds them to one row."""
    write_fingerprint_log(_canon_deltas(new_docs, text_col), path, COMPACTED_B)


def delete_from_fingerprint_index(
    deleted_docs: DataFrame, path: str, text_col: str = "text"
) -> None:
    """Append NEGATIVE per-canon deltas for withdrawn docs (takedowns,
    opt-outs) under ``b = -2`` — O(deleted docs), index never re-read.
    A canon whose live refcount reaches 0 stops serving at the NEXT
    PROBE; a canon some surviving doc still shares stays live. Callers
    pass each withdrawn doc ONCE (the relation being deleted from the
    corpus table): double-deleting drives the sum negative, which
    probes and compaction both treat as absent."""
    write_fingerprint_log(
        _canon_deltas(deleted_docs, text_col, sign=-1), path, TAKEDOWN_B
    )


def read_fingerprint_index(spark: SparkSession, path: str) -> DataFrame | None:
    """The log at ``path``, or None if it does not exist YET (a stream's
    first batch). Only the path-missing case may be swallowed: any
    other read failure (corrupt footer, storage hiccup, permissions)
    must fail the caller — treating a transient error as "empty index"
    would silently admit canons already accepted, and in a streaming
    ingest permanently duplicate docs in the corpus sink."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.schema(FINGERPRINT_INDEX_SCHEMA).parquet(path)
    except AnalysisException as e:
        cond = getattr(e, "getCondition", getattr(e, "getErrorClass", lambda: None))()
        if cond == "PATH_NOT_FOUND" or "PATH_NOT_FOUND" in str(e):
            return None
        raise


def live_canons(index: DataFrame, hashes: DataFrame) -> DataFrame:
    """The hashes (column ``h``, distinct) among ``hashes`` that have a
    LIVE refcount in ``index`` (``SUM(cnt) > 0``). Plan shape: the
    hashes broadcast into a left-semi over the index scan (only
    ``h``/``cnt`` read), then a partial-agg SUM over just the touched
    hashes — one index scan, no index shuffle, state bounded by the
    probe. The broadcast encodes the incremental contract (increment ≪
    index); a corpus-sized backfill rebuilds instead of probing."""
    return (
        index.join(F.broadcast(hashes), "h", "left_semi")
        .groupBy("h")
        .agg(F.sum("cnt").alias("rc"))
        .filter(F.col("rc") > 0)
        .select("h")
    )


def incremental_new_docs(
    batch: DataFrame,
    fingerprint_index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Ids in ``batch`` whose canonical text has no LIVE refcount in the
    index (``SUM(cnt) <= 0`` or absent): :func:`live_canons` over the
    batch's distinct hashes, then a broadcast anti join back onto the
    batch. Only the batch is tokenized/hashed."""
    keyed = batch.select(F.col(id_col), fingerprint(text_col).alias("h"))
    live = live_canons(fingerprint_index, keyed.select("h").distinct())
    return keyed.join(F.broadcast(live), "h", "left_anti").select(id_col)


# ──────────────────────────────────────────────────────────────────────
# URL / host-level dedup: the web-corpus granularities.
#
# Production web-corpus pipelines dedup at FOUR granularities: document
# text (exact/near — the families above), passage (substring_dup_groups),
# semantic (similarity.py), and URL/host — the same page fetched under
# syntactically different URLs, and boilerplate farms where one host
# serves thousands of near-identical pages. URL dedup is string
# normalization + one hash aggregate; host-level dedup is a per-host
# duplication profile that a gating policy thresholds. Both are pure
# expression pipelines — no UDFs, exact DuckDB oracles.
# ──────────────────────────────────────────────────────────────────────


def normalize_url(col: Column | str) -> Column:
    """Canonical URL: lowercase, fragment stripped, ``utm_*`` tracking
    params removed via SPLIT/FILTER/REJOIN (not a regex over the raw
    string), ``www.`` host prefix dropped, trailing slashes trimmed
    from the PATH (before the surviving query re-attaches). Every step
    is engine-portable (RE2-safe regex or list ops with exact DuckDB
    twins), so the oracle applies the IDENTICAL pipeline — the
    normalization IS the dedup key, so both engines must agree
    byte-for-byte.

    The split/filter/rejoin param normalizer (round-11 advisor —
    replaces the ``[?&]utm_[^&#]*`` regex): the query string splits at
    the FIRST ``?``, params split on ``&``, empties and ``utm_*`` drop,
    survivors rejoin with ``&`` and re-attach with ``?``. The regex
    form left a stray ``&`` when a utm param came first
    (``?utm_a=1&b=2`` → ``...x&b=2``) — under-merging against the
    ``?b=2`` form AND colliding with a raw URL whose path literally
    ends in ``x&b=2``; url_dedup_groups would then silently drop a
    distinct page. Side benefits, all pinned: ``&&`` runs collapse, a
    bare trailing ``?`` drops, and slash-variants with live params
    (``/x/?p=2`` vs ``/x?p=2``) now merge because the path trim runs
    before re-attachment. The ``www.`` strip is ANCHORED to the scheme
    and consumes REPEATS — an unanchored single-strip both rewrote
    URLs embedded in query params and broke idempotence on
    ``www.www.`` hosts (round-11 review). Pinned in
    tests/test_round11_ops.py + test_round12_ops.py."""
    c = F.col(col) if isinstance(col, str) else col
    u = F.lower(c)
    u = F.regexp_replace(u, r"#.*$", "")  # fragment
    qpos = F.instr(u, "?")  # first '?' — later '?' belong to the query
    base = F.when(qpos > 0, F.substring(u, F.lit(1), qpos - 1)).otherwise(u)
    query = F.when(qpos > 0, F.substring(u, qpos + 1, F.length(u)))
    kept = F.array_join(
        F.filter(
            F.split(F.coalesce(query, F.lit("")), "&"),
            lambda x: (x != "") & ~x.startswith("utm_"),
        ),
        "&",
    )
    base = F.regexp_replace(base, r"^([a-z][a-z0-9+.-]*://)(www\.)+", "$1")
    base = F.regexp_replace(base, r"/+$", "")
    return F.concat(
        base, F.when(kept != "", F.concat(F.lit("?"), kept)).otherwise(F.lit(""))
    )


# The oracle twin must stay a PURE scalar expression (it is spliced
# into larger expressions, including nested inside URL_HOST_ORACLE),
# so the shared "fragment-stripped lowercase" prefix is textually
# repeated rather than bound to a CTE name.
_NU_S = "regexp_replace(lower({u}), '#.*$', '', 'g')"
_NU_BASE = (
    f"(CASE WHEN strpos({_NU_S}, '?') > 0"
    f" THEN substr({_NU_S}, 1, strpos({_NU_S}, '?') - 1)"
    f" ELSE {_NU_S} END)"
)
_NU_QUERY = (
    f"(CASE WHEN strpos({_NU_S}, '?') > 0"
    f" THEN substr({_NU_S}, strpos({_NU_S}, '?') + 1) ELSE '' END)"
)
_NU_KEPT = (
    f"array_to_string(list_filter(str_split({_NU_QUERY}, '&'),"
    f" x -> x <> '' AND NOT starts_with(x, 'utm_')), '&')"
)
NORMALIZE_URL_ORACLE = (
    "(regexp_replace(regexp_replace(" + _NU_BASE + ","
    " '^([a-z][a-z0-9+.-]*://)(www\\.)+', '\\1', 'g'),"
    " '/+$', '', 'g')"
    " || (CASE WHEN " + _NU_KEPT + " <> ''"
    " THEN '?' || " + _NU_KEPT + " ELSE '' END))"
)
"""DuckDB twin of :func:`normalize_url` (``{u}`` = the URL expression;
replacement backrefs differ by dialect — ``$1`` Java, ``\\1`` RE2 — the
semantics are identical; first-``?`` substr split + str_split on '&' +
list_filter + array_to_string mirror F.instr/F.substring + F.split +
F.filter + F.array_join)."""


def url_host(col: Column | str) -> Column:
    """Registrable host of a (normalized) URL — the host-level dedup
    key. Plain regexp (not ``parse_url``) so the oracle twin is exact."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(c, r"^[a-z][a-z0-9+.-]*://([^/?#]+)", 1)


URL_HOST_ORACLE = "regexp_extract({u}, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1)"
"""DuckDB twin of :func:`url_host`."""


def url_dedup_groups(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """URL-level dedup: one surviving id + copy count per canonical URL.
    One hash aggregate on the normalized URL — map-side combine
    collapses refetch storms (the same page under ``?utm_...``
    variants) before the wire, so shuffle volume is O(distinct URLs)
    regardless of crawl duplication."""
    return (
        df.select(F.col(id_col), normalize_url(url_col).alias("norm_url"))
        .groupBy("norm_url")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def host_dup_stats(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-host duplication profile: page/URL/distinct-text counts and
    the text duplication ratio a host-gating policy thresholds
    (boilerplate-farm detection — a host serving many pages with few
    distinct texts).

    Scale shape: the exact-distinct counts go through Spark's standard
    two-phase distinct expansion — partial aggregation on (host, value)
    first, so a mega-host's duplicate values collapse map-side and the
    host-level exchange carries its distinct values only; the final
    per-host rollup is one more exchange on the host. No all-pairs
    anything; hot hosts cost their distinct cardinality, not their page
    count."""
    per_page = df.select(
        F.col(id_col),
        url_host(normalize_url(url_col)).alias("host"),
        normalize_url(url_col).alias("norm_url"),
        fingerprint(text_col).alias("content_hash"),
    )
    n_texts = F.count_distinct(F.col("content_hash")).alias("n_distinct_texts")
    return (
        per_page.groupBy("host")
        .agg(
            F.count("*").alias("n_pages"),
            F.count_distinct(F.col("norm_url")).alias("n_urls"),
            n_texts,
            F.round(
                1.0
                - F.count_distinct(F.col("content_hash"))
                / F.count("*").cast("double"),
                6,
            ).alias("text_dup_ratio"),
        )
    )


def build_lsh_bucket_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    num_files: int = 8,
) -> None:
    """Persist the corpus's LSH band-bucket table — the NEAR-DUP twin
    of :func:`build_fingerprint_index`: one row per (corpus rep,
    band), columns (corpus_id, band_idx, band_hash). Collapse-first
    (byte-identical canons become one rep) and the portable md5-affine
    family, so a probe is exactly replayable in SQL. An increment then
    signatures ONLY its new docs and joins their bucket rows against
    this table — O(new docs) per batch; the corpus is never
    re-shingled. Maintenance is append-only like the fingerprint
    index: new batches' bucket rows append, compaction dedups."""
    reps = _collapse_to_reps_onepass(docs, text_col, id_col)
    sig = minhash_signatures(
        reps, "__canon__", "id", num_hashes, portable=True, assume_canonical=True
    )
    banded = lsh_banded_buckets(sig, num_hashes, bands, portable=True)
    (
        banded.select(
            F.col("id").alias("corpus_id"), "band_idx", "band_hash"
        )
        .repartitionByRange(num_files, "band_hash")
        .sortWithinPartitions("band_hash", "corpus_id")
        .write.mode("overwrite")
        .parquet(f"{path}/buckets")
    )
    # ``params/``: the index is SELF-DESCRIBING (round-11 advisor): a
    # probe banded with a different num_hashes/bands than the build
    # joins on (band_idx, band_hash) values from a DIFFERENT hash
    # family — structurally valid but silently empty/garbage matches.
    # The probe validates against this record. Written LAST: its
    # _SUCCESS marker proves the whole build (same protocol as
    # similarity.build_ivfpq_index).
    (
        docs.sparkSession.createDataFrame(
            [(int(num_hashes), int(bands))], "num_hashes int, bands int"
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/params")
    )


def update_lsh_bucket_index(
    new_docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Append a new batch's band-bucket rows to a
    :func:`build_lsh_bucket_index` layout — O(new docs): only the batch
    collapses/signatures/bands; the existing index is never re-read.
    Banding parameters come FROM the index's ``params/`` record (the
    one source of truth — an update cannot drift from the build by
    construction). Appended rows may repeat (band_idx, band_hash)
    bucket keys already present; the probe's min-aggregate is
    idempotent to that, and periodic compaction dedups, as with any
    append-log relation (the update_fingerprint_index contract)."""
    spark = new_docs.sparkSession
    p = spark.read.parquet(f"{path}/params").first()
    reps = _collapse_to_reps_onepass(new_docs, text_col, id_col)
    sig = minhash_signatures(
        reps, "__canon__", "id", p["num_hashes"], portable=True, assume_canonical=True
    )
    banded = lsh_banded_buckets(sig, p["num_hashes"], p["bands"], portable=True)
    (
        banded.select(F.col("id").alias("corpus_id"), "band_idx", "band_hash")
        .write.mode("append")
        .parquet(f"{path}/buckets")
    )


def incremental_near_dups(
    batch: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """New-batch docs that LSH-collide with the historical corpus:
    collapse the batch to canonical reps, signature + band them (the
    only shingling in the plan — the corpus side streams prebuilt
    bucket rows from ``index_path``), join on (band_idx, band_hash),
    and report each colliding batch rep with its smallest matching
    corpus rep (deterministic). Output: (doc_id, corpus_match).

    ``num_hashes``/``bands`` are validated against the index's
    persisted ``params/`` record (:func:`build_lsh_bucket_index`): a
    mismatch bands the probe with a different hash family than the
    corpus rows — structurally valid join keys, silently empty or
    garbage matches, no exception — so it raises instead."""
    spark = batch.sparkSession
    p = spark.read.parquet(f"{index_path}/params").first()
    if (num_hashes, bands) != (p["num_hashes"], p["bands"]):
        raise ValueError(
            f"incremental_near_dups called with num_hashes={num_hashes}, "
            f"bands={bands} but the index at {index_path} was built with "
            f"num_hashes={p['num_hashes']}, bands={p['bands']} — a mismatch "
            f"joins band hashes from different hash families (silently "
            f"empty/garbage matches); rebuild the index or match the probe "
            f"parameters"
        )
    bucket_index = spark.read.parquet(f"{index_path}/buckets")
    reps = _collapse_to_reps_onepass(batch, text_col, id_col)
    sig = minhash_signatures(
        reps, "__canon__", "id", num_hashes, portable=True, assume_canonical=True
    )
    banded = lsh_banded_buckets(sig, num_hashes, bands, portable=True)
    return (
        banded.join(bucket_index, ["band_idx", "band_hash"])
        .groupBy(F.col("id").alias(id_col))
        .agg(F.min("corpus_id").alias("corpus_match"))
    )
