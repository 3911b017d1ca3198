"""Round-14 pins: ADVICE r13 fixes (exact passage-key arithmetic,
enforced chunk budget, pid-aware run-dir reaping) and this round's
operator work."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def test_passage_key_decode_is_exact_beyond_double_precision(spark):
    """ADVICE r13: floor(key / 2^20) uses double division, exact only
    below 2^53, so doc_id >= 2^33 could mis-decode. The decode now
    uses integer `div`; pin a doc_id far beyond the double-exact range
    round-tripping bit-exactly."""
    from nyc_opendata_etl_spark.queries.llm_ops import (
        _passage_key,
        _split_passage_key,
    )

    rows = [(1 << 34, 5), ((1 << 40) + 12345, (1 << 20) - 1), (7, 0)]
    df = spark.createDataFrame(rows, "doc_id long, chunk_id long")
    keyed = df.select(
        _passage_key().alias("doc_id"),
        F.lit(1.0).alias("bm25"),
        F.lit(1).alias("n_hit_terms"),
    )
    got = sorted(
        (r.doc_id, r.chunk_id) for r in _split_passage_key(keyed).collect()
    )
    assert got == sorted(rows)


def test_passage_key_budget_violation_fails_loudly(spark):
    """ADVICE r13: a doc exceeding the 2^20 chunks-per-doc budget used
    to silently collide its chunk keys into the next doc's key space.
    The key expression now raises inside the row pipeline."""
    from nyc_opendata_etl_spark.queries.llm_ops import (
        _CHUNK_KEY_BASE,
        _passage_key,
    )

    bad = spark.createDataFrame(
        [(3, _CHUNK_KEY_BASE)], "doc_id long, chunk_id long"
    )
    with pytest.raises(Exception, match="chunks-per-doc"):
        bad.select(_passage_key().alias("k")).collect()


def test_fresh_run_dir_reaps_dead_owners_only(tmp_path, monkeypatch):
    """ADVICE r13: the 1-hour mtime cutoff could delete a LIVE long
    run's sink/checkpoint mid-run. Reaping is now pid-liveness-based:
    a dir tagged with a dead pid is reaped immediately; a dir tagged
    with a live pid survives regardless of age; untagged legacy dirs
    survive below the 24 h fallback cutoff."""
    import tempfile

    from nyc_opendata_etl_spark.queries.maintenance import _fresh_run_dir

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    prefix = "graft_r14_reap_test_"

    # dead owner: max pid space on Linux is bounded well below 2^31;
    # a pid this large can never be live.
    dead = tmp_path / f"{prefix}p2000000123_x"
    dead.mkdir()
    # live owner (this process), backdated far past any age cutoff
    live = tmp_path / f"{prefix}p{os.getpid()}_y"
    live.mkdir()
    os.utime(live, (1, 1))
    # legacy untagged dir, recent → below the 24 h fallback
    legacy = tmp_path / f"{prefix}legacy"
    legacy.mkdir()

    run = _fresh_run_dir(prefix)
    assert not dead.exists(), "dead-owner dir must be reaped"
    assert live.exists(), "live-owner dir must survive any age"
    assert legacy.exists(), "recent legacy dir must survive"
    assert f"p{os.getpid()}_" in os.path.basename(run)


def _brute_pairs(hashes: dict[int, int], max_hamming: int):
    """Reference near-dup pairs by all-pairs XOR popcount over the
    min-id representative of each distinct hash value."""
    rep: dict[int, int] = {}
    for mid, h in hashes.items():
        if h not in rep or mid < rep[h]:
            rep[h] = mid
    items = sorted((i, h) for h, i in rep.items())
    out = []
    for x in range(len(items)):
        for y in range(x + 1, len(items)):
            d = bin((items[x][1] ^ items[y][1]) & ((1 << 64) - 1)).count("1")
            if d <= max_hamming:
                out.append((items[x][0], items[y][0], d))
    return sorted(out)


def test_ahash_hot_bucket_guard_exact_recall_and_bounded_volume(spark):
    """VERDICT r13 item 3: a degenerate corpus concentrating one band
    bucket (every hash shares band 0's 16 bits — the all-black-
    thumbnail shape) must neither go quadratic nor lose pairs. Pins
    (a) recall EXACTNESS: the hot path (tiny cap, every bucket
    refined) returns byte-identical pairs to both the unguarded path
    (huge cap) and a Python brute-force over distinct hashes, incl.
    engineered 1–3-bit-flip pairs; (b) bounded candidate volume: the
    refined sub-band key collapses the degenerate bucket's C(n,2)
    candidates by >20x (the factor grows with bucket size:
    sub-buckets spread over 2^12 values, so the reduction is ~|bucket|/
    collision-rate — 27x already at a 704-entry bucket)."""
    from nyc_opendata_etl_spark.operators.multimodal import (
        _ahash_banded,
        _ahash_candidates,
        ahash_near_dup_pairs,
    )
    from pyspark.sql import functions as F

    # 700 distinct hashes agreeing on band 0 (low 16 bits = 0xBEEF),
    # diverse elsewhere; plus engineered near-dups at hamming 1/2/3
    # and one at hamming 4 that must NOT pair.
    n = 700
    hashes = {}
    for i in range(n):
        rem = (i * 2654435761) & ((1 << 48) - 1)
        hashes[i] = (rem << 16) | 0xBEEF
    hashes[1000] = hashes[0] ^ (1 << 20)                      # ham 1
    hashes[1001] = hashes[1] ^ (1 << 21) ^ (1 << 40)          # ham 2
    hashes[1002] = hashes[2] ^ (1 << 22) ^ (1 << 41) ^ (1 << 60)  # ham 3
    hashes[1003] = (
        hashes[3] ^ (1 << 23) ^ (1 << 42) ^ (1 << 59) ^ (1 << 62)
    )  # ham 4 — excluded
    assert len(set(hashes.values())) == len(hashes)

    def to_long(v: int) -> int:
        return v - (1 << 64) if v >= (1 << 63) else v

    df = spark.createDataFrame(
        [(mid, to_long(h)) for mid, h in hashes.items()],
        "media_id long, ahash long",
    )

    expected = _brute_pairs({m: to_long(h) for m, h in hashes.items()}, 3)
    got_hot = sorted(
        map(
            tuple,
            ahash_near_dup_pairs(df, hot_bucket_cap=50).collect(),
        )
    )
    got_cold = sorted(
        map(
            tuple,
            ahash_near_dup_pairs(df, hot_bucket_cap=10**9).collect(),
        )
    )
    assert got_hot == got_cold == expected
    assert {(0, 1000), (1, 1001), (2, 1002)} <= {
        (a, b) for a, b, _ in got_hot
    }
    assert all((a, b) != (3, 1003) for a, b, _ in got_hot)

    # candidate-volume bound: the refined key must collapse the
    # degenerate bucket's quadratic candidate set.
    reps = df.groupBy("ahash").agg(F.min("media_id").alias("id"))
    banded = _ahash_banded(reps, 3, 4)
    n_cold = _ahash_candidates(banded, 3, 4, 10**9).count()
    n_hot = _ahash_candidates(banded, 3, 4, 50).count()
    assert n_cold > (n * (n - 1)) // 2  # the unguarded bucket IS quadratic
    assert n_hot * 20 < n_cold, (n_hot, n_cold)


def test_asof_join_merge_matches_aggregate_formulation(spark):
    """r14 relational.py review: the merge-form as-of join
    (operators/asof.py) must reproduce the aggregate formulation
    (equi-join + inequality filter + max_by/min_by struct) exactly —
    including hot keys, time ties on both sides, duplicate right
    values per time, keys with no right rows, and left times
    before/after every right time."""
    import random

    from pyspark.sql import functions as F

    from nyc_opendata_etl_spark.operators.asof import asof_join_merge

    rnd = random.Random(1414)
    lrows, rrows = [], []
    for i in range(400):
        k = rnd.choice([1, 1, 1, 1, 2, 3, 7])  # key 1 is hot; 7 has no right
        lrows.append((i, k, rnd.randint(0, 50)))
    rid = 0
    for _ in range(300):
        k = rnd.choice([1, 1, 1, 2, 3, 5])  # key 5 has no left
        rrows.append((k, rnd.randint(0, 50), rid))
        rid += 1
    left = spark.createDataFrame(lrows, "lid long, k long, t long").select(
        "lid", "k", F.timestamp_seconds("t").alias("ts")
    )
    right = spark.createDataFrame(rrows, "k long, t long, v long").select(
        "k", F.timestamp_seconds("t").alias("rts"), "v"
    )

    for direction, agg in (
        ("backward", F.max_by("v", F.struct(F.col("rts"), F.col("v")))),
        ("forward", F.min_by("v", F.struct(F.col("rts"), F.col("v")))),
    ):
        got = {
            (r.lid, r.picked)
            for r in asof_join_merge(
                left,
                right,
                key="k",
                left_time="ts",
                right_time="rts",
                right_value="v",
                out_col="picked",
                direction=direction,
            ).collect()
        }
        cmp = (
            F.col("rts") <= F.col("ts")
            if direction == "backward"
            else F.col("rts") >= F.col("ts")
        )
        j = left.join(right, "k", "left").filter(
            F.col("rts").isNull() | cmp
        )
        want_rows = (
            left.join(
                j.groupBy("lid").agg(agg.alias("picked")), "lid", "left"
            )
            .select("lid", "picked")
            .collect()
        )
        want = {(r.lid, r.picked) for r in want_rows}
        assert got == want, direction
        assert len(got) == 400, direction


def test_asof_join_merge_rejects_reserved_columns(spark):
    from nyc_opendata_etl_spark.operators.asof import asof_join_merge

    left = spark.createDataFrame([(1, 2, 3)], "k long, ts long, _asof_t long")
    right = spark.createDataFrame([(1, 2, 3)], "k long, rts long, v long")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="reserved"):
        asof_join_merge(left, right, "k", "ts", "rts", "v", "o")


def test_asof_nearest_composition_matches_minby_formulation(spark):
    """The nearest-direction composition (per-date min-key aggregate +
    backward/forward merge + closer-side pick, r14) must equal the old
    min_by(struct(dist, date, key)) formulation — including exact
    distance ties broken toward the earlier date, same-date duplicate
    keys broken toward the min key, and the equal-date case (forward
    candidate is STRICT in the merge; backward covers distance zero)."""
    import random

    from pyspark.sql import functions as F

    from nyc_opendata_etl_spark.operators.asof import asof_join_merge

    rnd = random.Random(77)
    lrows = [(i, rnd.choice([1, 1, 2, 9]), rnd.randint(0, 40) * 2) for i in range(300)]
    # even left times + mixed-parity right times → engineered exact
    # distance ties (t-d and t+d both present) occur frequently
    rrows = [
        (rnd.choice([1, 1, 2, 5]), rnd.randint(0, 40) * 2 + rnd.choice([0, 0, 2]), rid)
        for rid in range(200)
    ]
    left = spark.createDataFrame(lrows, "lid long, k long, t long").select(
        "lid", "k", F.timestamp_seconds("t").alias("ts")
    )
    right = spark.createDataFrame(rrows, "k long, t long, v long").select(
        "k", F.timestamp_seconds("t").alias("rts"), "v"
    )

    from nyc_opendata_etl_spark.operators.asof import asof_candidates_merge

    od = (
        right.groupBy("k", "rts")
        .agg(F.min("v").alias("min_key"))
        .select("k", "rts", F.struct(F.col("rts").alias("od"), "min_key").alias("cand"))
    )
    bf = asof_candidates_merge(
        left, od, "k", "ts", "rts", "cand", "bcand", "fcand"
    )
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    d_b = t_us - F.unix_micros(F.col("bcand.od").cast("timestamp"))
    d_f = F.unix_micros(F.col("fcand.od").cast("timestamp")) - t_us
    nearest = (
        F.when(F.col("bcand").isNull(), F.col("fcand.min_key"))
        .when(F.col("fcand").isNull(), F.col("bcand.min_key"))
        .when(d_b <= d_f, F.col("bcand.min_key"))
        .otherwise(F.col("fcand.min_key"))
    )
    got = {(r.lid, r.picked) for r in bf.select("lid", nearest.alias("picked")).collect()}

    j = left.join(right, "k", "left")
    dist = F.abs(
        F.unix_micros(F.col("rts").cast("timestamp"))
        - F.unix_micros(F.col("ts").cast("timestamp"))
    )
    want_rows = (
        left.join(
            j.groupBy("lid").agg(
                F.min_by("v", F.struct(dist, F.col("rts"), F.col("v"))).alias("picked")
            ),
            "lid",
            "left",
        )
        .select("lid", "picked")
        .collect()
    )
    want = {(r.lid, r.picked) for r in want_rows}
    assert got == want and len(got) == 300


def test_dup_cluster_index_incremental_merge_directions(spark, tmp_path):
    """Staged-for-r15 incremental cluster map (operators/
    cluster_index.py): one crafted corpus exercises every merge
    direction in one update — a new BRIDGE doc (id 1, smaller than
    every old id) whose text near-dups both old clusters' reps merges
    them AND relabels both old labels to 1; a new doc identical to a
    previously-singleton old rep promotes it into a cluster; a
    pure-new identical pair plus a near-dup of it cluster on their
    own; a unique new doc stays out. A second update batch proves
    repeated appends. Ground truth: from-scratch
    duplicate_clusters_collapsed over the final corpus — byte
    identical."""
    from pyspark.sql import functions as F

    from nyc_opendata_etl_spark.operators import cluster_index as ci
    from nyc_opendata_etl_spark.operators.dedup import (
        duplicate_clusters_collapsed,
    )

    w = [f"w{i}" for i in range(100)]
    u = [f"u{i}" for i in range(9)]
    TA = " ".join(w)                                   # old cluster A
    TB = " ".join(u[:9] + w[9:])                       # old cluster B (J(TA,TB)≈0.80- < t)
    TBv = " ".join(u[:9] + w[9:99] + ["zz"])           # near-dup of TB
    TC = " ".join(f"c{i}" for i in range(60))          # old singleton
    Z = " ".join(u[:5] + w[5:])                        # bridges A and B
    TD = " ".join(f"d{i}" for i in range(80))          # pure-new pair text
    TDv = " ".join([f"d{i}" for i in range(79)] + ["yy"])
    TE = " ".join(f"e{i}" for i in range(50))          # unique

    old = spark.createDataFrame(
        [(10, TA), (20, TA), (30, TB), (40, TBv), (50, TC)],
        "doc_id long, text string",
    )
    batch1 = spark.createDataFrame(
        [(1, Z), (60, TC), (70, TD), (80, TD), (81, TDv), (90, TE)],
        "doc_id long, text string",
    )
    batch2 = spark.createDataFrame([(100, TE)], "doc_id long, text string")

    path = str(tmp_path / "ci")
    ci.build_dup_cluster_index(old, path)
    ci.update_dup_cluster_index(spark, batch1, path, batch_id=0)
    ci.update_dup_cluster_index(spark, batch2, path, batch_id=1)

    got = sorted(map(tuple, ci.read_dup_clusters(spark, path).collect()))
    assert got == [
        (1, 1), (10, 1), (20, 1), (30, 1), (40, 1),
        (50, 50), (60, 50),
        (70, 70), (80, 70), (81, 70),
        (90, 90), (100, 90),
    ]
    want = sorted(
        map(
            tuple,
            duplicate_clusters_collapsed(
                old.unionByName(batch1).unionByName(batch2)
            ).collect(),
        )
    )
    assert got == want


def test_dup_cluster_index_update_replay_idempotent(spark, tmp_path):
    """Crash/replay contract (ADVICE r14): re-running an
    already-applied batch must leave every artifact relation IDENTICAL
    — strictly-below-batch reads pin the recompute's inputs and
    per-batch dynamic overwrite rewrites (never re-appends) its own
    partitions, so replay from any crash point converges to the same
    bytes. The r14-staged form double-appended reps/prefix/members
    here (inflated members → fan-out in every matched join)."""
    from pyspark.sql import functions as F

    from nyc_opendata_etl_spark.operators import cluster_index as ci

    docs = spark.createDataFrame(
        [(i, f"t{i % 3} " + " ".join(f"w{j}" for j in range(40))) for i in range(12)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "ci")
    ci.build_dup_cluster_index(docs.filter(F.col("doc_id") < 6), path)
    batch = docs.filter(F.col("doc_id") >= 6)
    ci.update_dup_cluster_index(spark, batch, path, batch_id=0)

    def snap():
        return {
            rel: sorted(
                map(tuple, spark.read.parquet(f"{path}/{rel}").collect())
            )
            for rel in ("reps", "prefix", "members")
        } | {"clusters": sorted(map(tuple, ci.read_dup_clusters(spark, path).collect()))}

    before = snap()
    ci.update_dup_cluster_index(spark, batch, path, batch_id=0)  # replay
    assert snap() == before
    # and the pre-build guard: a batch at or below the build id is a
    # contract violation, not a silent mis-read
    import pytest as _pytest

    with _pytest.raises(ValueError, match="must exceed the build batch"):
        ci.update_dup_cluster_index(spark, batch, path, batch_id=ci.BUILD_BATCH)


def test_asof_merge_null_time_contract(spark):
    """NULL-time semantics (r14 adversarial self-review): right rows
    with NULL time must never match (they'd otherwise sort 'before
    everything' and be LOCF-picked); left rows with NULL time get a
    NULL result in both directions (not the global min/max). Matches
    the aggregate formulation, where a NULL comparison drops the
    row."""
    from pyspark.sql import functions as F

    from nyc_opendata_etl_spark.operators.asof import (
        asof_candidates_merge,
        asof_join_merge,
    )

    left = spark.createDataFrame(
        [(1, 1, 10), (2, 1, None), (3, 2, 10)], "lid long, k long, t long"
    ).select("lid", "k", F.timestamp_seconds("t").alias("ts"))
    right = spark.createDataFrame(
        [(1, 5, 100), (1, None, 999), (2, None, 999)],
        "k long, t long, v long",
    ).select("k", F.timestamp_seconds("t").alias("rts"), "v")

    for direction, want in (
        ("backward", {1: 100, 2: None, 3: None}),
        ("forward", {1: None, 2: None, 3: None}),
    ):
        got = {
            r.lid: r.picked
            for r in asof_join_merge(
                left, right, "k", "ts", "rts", "v", "picked", direction
            ).collect()
        }
        assert got == want, direction

    cand = {
        r.lid: (r.b, r.f)
        for r in asof_candidates_merge(
            left, right, "k", "ts", "rts", "v", "b", "f"
        ).collect()
    }
    assert cand == {1: (100, None), 2: (None, None), 3: (None, None)}


def test_ann_ingest_replay_is_idempotent(spark, tmp_path):
    """Exactly-once contract of the streaming ANN sink: re-running a
    micro-batch's write (the crash-after-write-before-commit replay)
    leaves the codes relation IDENTICAL — the (batch, cid) dynamic
    overwrite rewrites the batch's own partitions instead of appending
    duplicate code rows (which would double ADC distances in the
    probe). Also pins streamed-state == batch-updater-state: the same
    vectors pushed through ann_ingest_batch equal an
    update_ivfpq_index append, row for row."""
    from pyspark.sql import functions as F

    from nyc_opendata_etl_spark.operators import similarity
    from nyc_opendata_etl_spark.sources.tables import load_table
    from nyc_opendata_etl_spark.streaming.ann_ingest import ann_ingest_batch

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = str(tmp_path / "annidx")
    similarity.build_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 0), base)
    import shutil

    shutil.rmtree(f"{base}/codes", ignore_errors=True)

    odd = emb.filter(F.col("vec_id") % 2 == 1)
    even = emb.filter(F.col("vec_id") % 2 == 0)
    ann_ingest_batch(even, 0, base)
    ann_ingest_batch(odd, 1, base)

    def snap():
        return sorted(
            map(
                tuple,
                spark.read.parquet(f"{base}/codes")
                .select("id", "m", "code", "cid")
                .collect(),
            )
        )

    first = snap()
    ann_ingest_batch(odd, 1, base)  # replay batch 1
    assert snap() == first, "replay must rewrite identical content"

    # batch-updater equivalence: a fresh build+update over the same
    # halves yields the same (id, m, code, cid) relation
    ref = str(tmp_path / "refidx")
    similarity.build_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 0), ref)
    similarity.update_ivfpq_index(odd, ref)
    want = sorted(
        map(
            tuple,
            spark.read.parquet(f"{ref}/codes")
            .select("id", "m", "code", "cid")
            .collect(),
        )
    )
    assert first == want


def test_asof_merge_null_key_and_out_col_contracts(spark):
    """ADVICE r14 asof items: (1) NULL join keys never match — the
    window's partitionBy would otherwise group NULL-key right rows
    WITH NULL-key left rows and LOCF could pick one, a match the
    equi-join formulation this merge replaces never produced; (2)
    out_col (and both candidate columns) join the reserved-name clash
    validation, so a collision raises instead of yielding duplicate
    output columns."""
    from pyspark.sql import functions as F

    from nyc_opendata_etl_spark.operators.asof import (
        asof_candidates_merge,
        asof_join_merge,
    )

    left = spark.createDataFrame(
        [(1, None, 10), (2, 7, 10)], "lid long, k long, t long"
    ).select("lid", "k", F.timestamp_seconds("t").alias("ts"))
    right = spark.createDataFrame(
        [(None, 5, 111), (None, 20, 444), (7, 5, 222), (7, 20, 333)],
        "k long, t long, v long",
    ).select("k", F.timestamp_seconds("t").alias("rts"), "v")

    for direction, want in (
        ("backward", {(1, None), (2, 222)}),
        ("forward", {(1, None), (2, 333)}),
    ):
        got = {
            (r.lid, r.picked)
            for r in asof_join_merge(
                left, right, "k", "ts", "rts", "v", "picked",
                direction=direction,
            ).collect()
        }
        assert got == want, direction

    got = {
        (r.lid, r.b, r.f)
        for r in asof_candidates_merge(
            left, right, "k", "ts", "rts", "v", "b", "f"
        ).collect()
    }
    assert got == {(1, None, None), (2, 222, 333)}

    import pytest

    with pytest.raises(ValueError, match="reserved/output"):
        asof_join_merge(left, right, "k", "ts", "rts", "v", "lid")
    with pytest.raises(ValueError, match="reserved/output"):
        asof_candidates_merge(left, right, "k", "ts", "rts", "v", "lid", "f")
    with pytest.raises(ValueError, match="distinct"):
        asof_candidates_merge(left, right, "k", "ts", "rts", "v", "x", "x")


def test_ahash_bands_must_divide_64():
    """ADVICE r14: bands that do not divide 64 would leave the top
    bits in NO band — pigeonhole recall silently broken; the operator
    must refuse."""
    import pytest

    from nyc_opendata_etl_spark.operators.multimodal import ahash_near_dup_pairs

    with pytest.raises(ValueError, match="divide 64"):
        ahash_near_dup_pairs(None, max_hamming=3, bands=5)


def test_ahash_recursive_guard_hot_sub_bucket(spark):
    """VERDICT r14 item 7: a hot SUB-bucket IS constructible — hashes
    varying only in the 36 bits outside band 0 (low 16) and rem
    segment 0 (bits 16..27) all share one level-1 refined key, so the
    one-level guard leaves a quadratic residue there. Pins (a) the
    depth-2 guard collapses that residue (>10x fewer candidates than
    depth-1 on the adversarial corpus) and (b) recall stays EXACT at
    every depth: depth-1, depth-2 and the unguarded path all return
    the brute-force pair set, including engineered 1-3-bit near-dups
    whose differing bits straddle the refined segments."""
    from pyspark.sql import functions as F

    from nyc_opendata_etl_spark.operators.multimodal import (
        _ahash_banded,
        _ahash_candidates,
        ahash_near_dup_pairs,
    )

    # band 0 (bits 0..15) = 0xBEEF; level-1 rem segment 0 (bits
    # 16..27) = 0xABC; only bits 28..63 vary (kept positive: < 2^62).
    n = 600
    hashes = {}
    for i in range(n):
        hi = (i * 2654435761) & ((1 << 34) - 1)
        hashes[i] = (hi << 28) | (0xABC << 16) | 0xBEEF
    hashes[1000] = hashes[0] ^ (1 << 5)                      # in band 0
    hashes[1001] = hashes[1] ^ (1 << 20) ^ (1 << 40)         # seg0 + high
    hashes[1002] = hashes[2] ^ (1 << 30) ^ (1 << 45) ^ (1 << 60)
    assert len(set(hashes.values())) == len(hashes)

    df = spark.createDataFrame(
        list(hashes.items()), "media_id long, ahash long"
    )
    expected = _brute_pairs(hashes, 3)
    for depth in (1, 2):
        got = sorted(
            map(
                tuple,
                ahash_near_dup_pairs(
                    df, hot_bucket_cap=50, refine_levels=depth
                ).collect(),
            )
        )
        assert got == expected, f"depth={depth}"

    reps = df.groupBy("ahash").agg(F.min("media_id").alias("id"))
    banded = _ahash_banded(reps, 3, 4)
    n_d1 = _ahash_candidates(banded, 3, 4, 50, refine_levels=1).count()
    n_d2 = _ahash_candidates(banded, 3, 4, 50, refine_levels=2).count()
    assert n_d1 > (n * (n - 1)) // 4  # depth-1 residue is quadratic here
    assert n_d2 * 10 < n_d1, (n_d2, n_d1)
