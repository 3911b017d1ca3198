"""Round-7 staged-index invariants: an index probe must return results
bit-identical to the corpus-scan formulation it replaces, and the probe
plans must actually prune — files on the term-sorted posting layout,
partitions on the cell-partitioned IVF-PQ codes."""

from __future__ import annotations

from pyspark.sql import functions as F

from nyc_opendata_etl_spark.operators import similarity, text
from nyc_opendata_etl_spark.sources.batch_log import current_dir
from nyc_opendata_etl_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"
TERMS = ["hash", "join", "vector"]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_bm25_index_probe_matches_corpus_scan(spark, tmp_path):
    """bm25_topk_indexed over a freshly built index must equal
    bm25_scores run directly on the corpus — same docs, same scores to
    the last bit (both fold identical exact integers through the same
    9-dp DECIMAL(28,12) contributions)."""
    docs = load_table(spark, SF, "documents")
    idx = str(tmp_path / "text_index")
    text.build_text_index(docs, idx)
    probe = text.bm25_topk_indexed(spark, idx, TERMS, k=20)
    scan = text.bm25_scores(docs, TERMS, k=20)
    assert _rows(probe) == _rows(scan)


def test_tfidf_index_probe_matches_corpus_scan(spark, tmp_path):
    """The TF-IDF backend (hybrid-RRF's second ranker) probed from the
    index must equal the corpus-scan computation."""
    docs = load_table(spark, SF, "documents")
    idx = str(tmp_path / "text_index")
    text.build_text_index(docs, idx)
    probe = text.tfidf_topk_indexed(spark, idx, TERMS, k=50)

    toks = docs.select(
        "doc_id", F.explode(text.tokens(F.lower(F.col("text")))).alias("term")
    ).filter(F.col("term").isin(TERMS))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    scan = (
        tf.join(F.broadcast(dfq), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.round(
                F.col("tf") * F.log(F.col("n") / F.col("df").cast("double")), 9
            )
            .cast("decimal(28,12)")
            .alias("c"),
        )
        .groupBy("doc_id")
        .agg(F.sum("c").cast("double").alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(50)
    )
    assert _rows(probe) == _rows(scan)


def test_postings_probe_prunes_files_and_pushes_predicate(spark, tmp_path):
    """The term-sorted posting layout must let a term probe skip files:
    the probed read touches strictly fewer parquet files than the
    layout holds, and the term predicate reaches the scan
    (PushedFilters). This is the entire point of staging — query cost
    bounded by the matching postings, not the corpus."""
    docs = load_table(spark, SF, "documents")
    idx = str(tmp_path / "text_index")
    text.build_text_index(docs, idx, num_files=8)
    post = spark.read.parquet(f"{current_dir(idx)}/postings")
    n_files_total = post.select(
        F.input_file_name().alias("f")
    ).distinct().count()
    probed = post.filter(F.col("term").isin(TERMS))
    n_files_probed = probed.select(
        F.input_file_name().alias("f")
    ).distinct().count()
    assert n_files_probed < n_files_total
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(term" in plan


def test_ivfpq_index_probe_matches_inquery_build(spark, tmp_path):
    """ivfpq_topk_indexed over a persisted index must return the exact
    rows of ivfpq_topk's in-query build — identical routing, codes,
    LUT, and ADC folds, only read instead of recomputed."""
    emb = load_table(spark, SF, "embeddings")
    idx = str(tmp_path / "ivfpq_index")
    similarity.build_ivfpq_index(emb, idx)
    probe = similarity.ivfpq_topk_indexed(spark, emb, idx, query_vec_id=42)
    build = similarity.ivfpq_topk(emb, query_vec_id=42)
    assert _rows(probe) == _rows(build)


def test_ivfpq_codes_read_only_probed_cells(spark, tmp_path):
    """The cell-partitioned codes layout must prune at the partition
    level: a 2-cell probe reads files from exactly those 2 cid
    directories, never the other 14."""
    emb = load_table(spark, SF, "embeddings")
    idx = str(tmp_path / "ivfpq_index")
    similarity.build_ivfpq_index(emb, idx)
    codes = spark.read.parquet(f"{current_dir(idx)}/codes")
    probed = codes.filter(F.col("cid").isin([3, 7]))
    files = [
        r["f"]
        for r in probed.select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    ]
    assert files  # both cells exist under the convention quantizer
    assert all(("cid=3" in f) or ("cid=7" in f) for f in files)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_staged_edges_reregister_preserves_bucketing(spark):
    """A fresh staging from an earlier session must re-register in the
    new session's catalog as the SAME bucketed layout (bucketing
    metadata lives in the catalog, not the parquet files): drop the
    table, re-stage, and the bucket spec and edge set must survive."""
    from nyc_opendata_etl_spark.queries.relational import (
        _stage_copurchase_edges,
    )

    tbl = _stage_copurchase_edges(spark, SF)
    before = spark.table(tbl).count()
    assert before > 0
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")  # simulate a new session
    tbl2 = _stage_copurchase_edges(spark, SF)
    assert tbl2 == tbl
    desc = spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").collect()
    kv = {r["col_name"]: r["data_type"] for r in desc}
    assert kv.get("Num Buckets") == "8"
    assert "a" in kv.get("Bucket Columns", "")
    assert spark.table(tbl).count() == before


def test_incremental_index_update_equals_full_rebuild(spark, tmp_path):
    """build_text_index on half the corpus + update_text_index with the
    other half must reconstruct EXACTLY the state of a from-scratch
    build over the full corpus: identical merged vocab and stats, and a
    bit-identical BM25 ranking — the append/merge maintenance contract
    (O(new docs), old corpus never re-read)."""
    docs = load_table(spark, SF, "documents")
    full_idx = str(tmp_path / "full")
    incr_idx = str(tmp_path / "incr")
    text.build_text_index(docs, full_idx)
    text.build_text_index(docs.filter(F.col("doc_id") % 2 == 0), incr_idx)
    text.update_text_index(
        spark, docs.filter(F.col("doc_id") % 2 == 1), incr_idx
    )

    for part in ("vocab", "stats"):
        a = spark.read.parquet(f"{current_dir(full_idx)}/{part}")
        b = spark.read.parquet(f"{current_dir(incr_idx)}/{part}")
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0
    ra = text.bm25_topk_indexed(spark, full_idx, TERMS, k=20)
    rb = text.bm25_topk_indexed(spark, incr_idx, TERMS, k=20)
    assert _rows(ra) == _rows(rb)


def test_countmin_merge_identity_and_laws(spark):
    """Count-min contracts: (1) merge(batch(A), batch(B)) produces the
    IDENTICAL counter relation as batch(A ∪ B) — counters add, so any
    batching yields one state; (2) est ≥ exact for EVERY distinct term
    in the corpus (the never-undercount law, checked exhaustively, not
    just on probes); (3) state size is bounded by d·w rows whatever the
    input size."""
    from nyc_opendata_etl_spark.operators.rollup import (
        countmin_batch,
        countmin_estimate,
        countmin_merge,
    )

    docs = load_table(spark, SF, "documents")
    toks = docs.select(
        "doc_id", F.explode(text.tokens(F.lower(F.col("text")))).alias("term")
    )
    one_pass = countmin_batch(toks, "term", d=4, w=32)
    merged = countmin_merge(
        countmin_batch(toks.filter(F.col("doc_id") % 2 == 0), "term", d=4, w=32),
        countmin_batch(toks.filter(F.col("doc_id") % 2 == 1), "term", d=4, w=32),
    )
    assert one_pass.exceptAll(merged).count() == 0
    assert merged.exceptAll(one_pass).count() == 0
    assert one_pass.count() <= 4 * 32

    vocab = toks.select("term").distinct()
    est = countmin_estimate(one_pass, vocab, d=4, w=32)
    exact = toks.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("exact_freq")
    )
    bad = (
        est.join(exact, "term")
        .filter(F.col("est_freq") < F.col("exact_freq"))
        .count()
    )
    assert bad == 0


def test_substring_dedup_detects_shared_passage(spark):
    """A 40+ char passage embedded in otherwise-different docs must be
    detected: at stride 1 regardless of insertion offset; at stride 10
    when the copies are stride-aligned. Docs without shared passages
    must produce no groups."""
    from nyc_opendata_etl_spark.operators.dedup import substring_dup_groups

    passage = "the quick brown fox jumps over the lazy dog again"  # 50 chars
    docs = spark.createDataFrame(
        [
            (1, "unique prefix one " + passage + " unique suffix alpha"),
            (2, "another beginning text " + passage + " other ending"),
            (3, "totally unrelated content with no shared passages at all"),
        ],
        "doc_id long, text string",
    )
    # stride 1: offset-independent detection
    g1 = substring_dup_groups(docs, length=40, stride=1).collect()
    assert len(g1) > 0
    assert all(r["n_docs"] == 2 and r["first_doc_id"] == 1 for r in g1)

    # disjoint docs: nothing detected
    solo = spark.createDataFrame(
        [(1, "completely distinct text number one right here"),
         (2, "and a second document sharing nothing with the first")],
        "doc_id long, text string",
    )
    assert substring_dup_groups(solo, length=40, stride=1).count() == 0

    # stride 10 with aligned copies (identical texts): detected
    twins = spark.createDataFrame(
        [(7, passage + " with a common tail of words"),
         (8, passage + " with a common tail of words")],
        "doc_id long, text string",
    )
    g10 = substring_dup_groups(twins, length=40, stride=10).collect()
    assert len(g10) > 0 and all(r["n_docs"] == 2 for r in g10)


def test_staged_zordered_events_prune_2d_box(spark):
    """The staged z-ordered events layout must skip files on a 2-D box
    probe: the registered query's predicates read strictly fewer
    parquet files than the layout holds, and both range predicates
    reach the scan as PushedFilters."""
    from nyc_opendata_etl_spark.queries.event_windows import (
        _stage_events_zordered,
    )

    path = _stage_events_zordered(spark, "/root/testdata/sf0.01")
    ev = spark.read.parquet(path)
    total = ev.select(F.input_file_name().alias("f")).distinct().count()
    probed = ev.filter(
        F.col("user_id").between(10, 120)
        & F.col("minute_of_day").between(540, 779)
    )
    touched = probed.select(F.input_file_name().alias("f")).distinct().count()
    assert touched < total
    plan = probed._jdf.queryExecution().executedPlan().toString()
    # (the filter list renders truncated; the user_id bound appearing
    # in PushedFilters plus the file-count drop proves the layout+
    # pushdown combination works end to end)
    assert "GreaterThanOrEqual(user_id,10)" in plan


# --------------------------------------------------------------------------
# Round-7 widening: bloom prefilter, containment, OHLC, null-safe join
# --------------------------------------------------------------------------

def test_bloom_prefilter_candidates_superset_of_matches(spark):
    """The bloom candidate set must contain EVERY true match (no false
    negatives — the bloom contract) while the bitmap stays a bounded
    broadcast array."""
    from nyc_opendata_etl_spark.operators.bloom import (
        bloom_prefilter,
        build_bloom_bitmap,
    )

    probe = spark.range(0, 2000).select(F.col("id").alias("k"))
    build = spark.range(0, 2000, 37).select(F.col("id").alias("k"))
    bitmap = build_bloom_bitmap(build, "k", m=64, k=3)
    cand = set(r["k"] for r in bloom_prefilter(probe, "k", bitmap, m=64, k=3).collect())
    true_keys = set(r["k"] for r in build.collect())
    assert true_keys <= cand  # zero false negatives
    row = bitmap.collect()[0]
    assert row["n_keys"] == len(true_keys)
    assert row["n_bits_set"] <= 64 and row["bits"] == sorted(row["bits"])


def test_bloom_position_matches_duckdb(spark):
    """Portable hash family: Spark bit positions == DuckDB replay."""
    import duckdb

    from nyc_opendata_etl_spark.operators.bloom import (
        bloom_position,
        bloom_position_sql,
    )

    df = spark.range(0, 50).select(
        F.col("id"), *[bloom_position(i, "id", 97).alias(f"p{i}") for i in range(3)]
    )
    got = {r["id"]: (r["p0"], r["p1"], r["p2"]) for r in df.collect()}
    con = duckdb.connect()
    sql = ", ".join(bloom_position_sql(i, "id", 97) for i in range(3))
    for v, *tup in con.execute(
        f"SELECT id, {sql} FROM range(50) t(id)"
    ).fetchall():
        assert got[v] == tuple(tup)


def test_containment_finds_doc_inside_doc_jaccard_misses(spark):
    """A short doc verbatim inside a much longer one: containment ≈ 1
    while Jaccard is far below threshold — the asymmetric axis."""
    from nyc_opendata_etl_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon"
    long = short + " " + " ".join(f"w{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, short), (2, long), (3, "entirely different words here now")],
        "doc_id long, text string",
    )
    cont = containment_pairs(docs, threshold=0.9).collect()
    assert [(r["contained_id"], r["container_id"]) for r in cont] == [(1, 2)]
    assert cont[0]["containment"] == 1.0
    assert ngram_jaccard_pairs(docs, threshold=0.8).count() == 0


def test_containment_prefix_filter_lossless(spark):
    """Prefix filtering must be lossless vs the naive all-pairs exact
    computation on a corpus with heavy shingle overlap."""
    from nyc_opendata_etl_spark.operators.dedup import containment_pairs, word_shingles

    base = [f"tok{i}" for i in range(12)]
    rows = []
    for d in range(10):
        # sliding windows over a shared vocabulary → overlapping shingles
        rows.append((d, " ".join(base[d % 4 : d % 4 + 8])))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["contained_id"], r["container_id"]): r["containment"]
        for r in containment_pairs(
            docs, threshold=0.5, collapse_exact=False
        ).collect()
    }
    sh = {
        r["doc_id"]: set(r["sh"])
        for r in docs.select(
            "doc_id", F.array_distinct(word_shingles("text")).alias("sh")
        ).collect()
    }
    want = {}
    for a, sa in sh.items():
        for b, sb in sh.items():
            if a != b and sa:
                c = round(len(sa & sb) / len(sa), 6)
                if c >= 0.5:
                    want[(a, b)] = c
    assert got == want

    # default collapse_exact=True: identical texts (doc_id ≡ mod 4 here)
    # reduce to their min-id representative, so only representative ids
    # appear and every surviving pair value matches the brute force.
    collapsed = {
        (r["contained_id"], r["container_id"]): r["containment"]
        for r in containment_pairs(docs, threshold=0.5).collect()
    }
    reps = {0, 1, 2, 3}
    assert collapsed  # cross-text containment pairs survive
    assert {i for pair in collapsed for i in pair} <= reps
    for pair, c in collapsed.items():
        assert want[pair] == c


def test_ohlc_open_close_tie_break_deterministic(spark):
    """Two events at the IDENTICAL timestamp: open/close must pick by
    event_id order, not partition luck."""
    from datetime import datetime

    ts = datetime(2024, 1, 5, 12, 0, 0)
    ev = spark.createDataFrame(
        [(2, ts, "a", 99.0), (1, ts, "a", 5.0), (3, ts, "a", 7.0)],
        "event_id long, ts timestamp_ntz, event_type string, value double",
    ).repartition(3)
    ord_key = F.concat(
        F.date_format("ts", "yyyyMMddHHmmssSSSSSS"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    row = (
        ev.groupBy("event_type")
        .agg(
            F.min_by("value", ord_key).alias("open"),
            F.max_by("value", ord_key).alias("close"),
        )
        .collect()[0]
    )
    assert row["open"] == 5.0 and row["close"] == 7.0


def test_null_safe_join_keeps_null_keys(spark):
    """eqNullSafe must match NULL==NULL; a plain equi-join drops them."""
    left = spark.createDataFrame([(None,), (1,), (2,)], "k int")
    right = spark.createDataFrame([(None, "n"), (1, "a")], "k int, v string")
    ns = left.join(right, left["k"].eqNullSafe(right["k"]), "inner")
    assert ns.count() == 2
    plain = left.join(right, left["k"] == right["k"], "inner")
    assert plain.count() == 1


# ── round-7 coverage additions: sampling / SNM dedup / skew profile ──


def test_priority_sample_matches_brute_force(spark):
    """The distributed top-k-by-priority must equal a driver-side brute
    force over the same deterministic scores, and every HT estimate is
    bounded below by the doc's own weight (the estimator's defining
    clamp)."""
    from nyc_opendata_etl_spark.functions.hashing import MOD
    from nyc_opendata_etl_spark.operators.curation import priority_sample

    docs = load_table(spark, SF, "documents")
    out = priority_sample(docs, k=25).collect()
    assert len(out) == 25
    assert [r.rk for r in out] == list(range(1, 26))

    # brute force: recompute scores in Python from collected inputs
    from nyc_opendata_etl_spark.operators.text import token_count

    rows = docs.select(
        "doc_id", token_count("text").cast("long").alias("n_tokens")
    ).collect()
    import hashlib

    def md5_long_py(s: str) -> int:
        hx = hashlib.md5(s.encode()).hexdigest()
        x = int(hx[0:8], 16) % MOD
        for i in (8, 16, 24):
            x = (x * ((1 << 32) % MOD) + int(hx[i : i + 8], 16)) % MOD
        return x

    scored = sorted(
        (
            (-(r.n_tokens + 1) * float(MOD + 1) / (md5_long_py(str(r.doc_id)) + 1), r.doc_id)
            for r in rows
        )
    )
    expect_ids = [doc_id for _, doc_id in scored[:25]]
    assert [r.doc_id for r in out] == expect_ids
    tau = -scored[25][0]
    for r in out:
        assert r.est_weight >= r.n_tokens + 1
        assert r.est_weight == round(max(r.n_tokens + 1, tau), 6)


def test_sorted_neighborhood_finds_adjacent_dups(spark):
    """Near-identical texts sharing a canonical prefix must pair; docs
    more than `window` positions apart in their block must not (the
    documented SNM recall contract)."""
    from nyc_opendata_etl_spark.operators.dedup import sorted_neighborhood_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base),
        (2, base + " mu"),          # near-dup of 1, adjacent in sort
        (3, "alp xx yy zz ww vv uu tt ss rr"),  # same block prefix, dissimilar
        (10, "zulu yankee xray whiskey victor uniform tango sierra"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted_neighborhood_pairs(df, window=3, threshold=0.5)
    got = {(r.id_a, r.id_b) for r in out.collect()}
    assert (1, 2) in got
    assert all(a < b for a, b in got)
    for r in out.collect():
        assert 0.0 <= r.jaccard <= 1.0

    # window contract: 5 identical-prefix docs, dup planted 4 apart
    far = [(i, f"alpha beta gamma doc{i} w{i} x{i} y{i} z{i}") for i in range(4)]
    far += [(99, "alpha beta gamma doc0 w0 x0 y0 z0 extra")]  # pairs with 0
    df2 = spark.createDataFrame(far, "doc_id long, text string")
    # with window=1 the (0, 99) pair is ≥2 positions apart in sort order
    out2 = {(r.id_a, r.id_b) for r in
            sorted_neighborhood_pairs(df2, window=1, threshold=0.3).collect()}
    out3 = {(r.id_a, r.id_b) for r in
            sorted_neighborhood_pairs(df2, window=4, threshold=0.3).collect()}
    assert out2 <= out3  # widening the window only adds pairs


def test_key_skew_profile_exact(spark):
    """Counts, fractions, and skew ratios on a hand-built skewed table."""
    from nyc_opendata_etl_spark.operators.skew import key_skew_profile

    df = spark.createDataFrame(
        [("hot",)] * 6 + [("warm",)] * 3 + [("cold",)] * 1, "k string"
    )
    out = {r.key: r for r in key_skew_profile(df, "k", top=2).collect()}
    assert set(out) == {"hot", "warm"}
    assert out["hot"].cnt == 6
    assert out["hot"].frac == 0.6
    assert out["hot"].skew_ratio == round(6 * 3 / 10, 6)
    assert out["warm"].skew_ratio == round(3 * 3 / 10, 6)


def test_realize_mix_quota_invariants(spark):
    """Every cell appears with ≥1 doc, no cell exceeds its quota, rank
    sequences are 1..n dense, and draws are deterministic."""
    from nyc_opendata_etl_spark.operators.curation import realize_mix

    docs = load_table(spark, SF, "documents")
    out = realize_mix(docs, n_target=100)
    rows = out.collect()
    cells = docs.select("lang", "source").distinct().count()
    got_cells = {(r.lang, r.source) for r in rows}
    assert len(got_cells) == cells
    by_cell = {}
    for r in rows:
        by_cell.setdefault((r.lang, r.source), []).append(r)
    for cell, rs in by_cell.items():
        quota = rs[0].quota
        assert len(rs) <= quota
        assert sorted(x.rk for x in rs) == list(range(1, len(rs) + 1))
    again = {(r.lang, r.source, r.doc_id) for r in realize_mix(docs, n_target=100).collect()}
    assert again == {(r.lang, r.source, r.doc_id) for r in rows}


def test_pattern_match_semantics(spark):
    """Non-overlapping greedy matches, noise tolerance inside the
    pattern, and timestamp-order determinism across partitions."""
    from datetime import datetime, timedelta
    from nyc_opendata_etl_spark.queries.event_windows import (
        q_events_pattern_match,
    )

    t0 = datetime(2024, 3, 1)
    # user 1: v c c p | v p | e v c s p → 2 conversions ('s' breaks #3)
    types_1 = ["view", "click", "click", "purchase", "view", "purchase",
               "error", "view", "click", "signup", "purchase"]
    # user 2: p v c → 0 conversions (never completes)
    types_2 = ["purchase", "view", "click"]
    rows = []
    eid = 0
    for uid, types in ((1, types_1), (2, types_2)):
        for i, ty in enumerate(types):
            rows.append((eid, t0 + timedelta(minutes=i), uid, ty, 1.0, "{}"))
            eid += 1
    import tempfile, os
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    ).repartition(4)
    tmp = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(tmp, "events.parquet"))
    out = {r.user_id: r for r in q_events_pattern_match(spark, tmp).collect()}
    assert set(out) == {1}
    assert out[1].n_conversions == 2
    assert out[1].n_events == len(types_1)


def test_regression_recovers_exact_line(spark, tmp_path):
    """OLS on y = 3x + 7 with zero noise must return slope 3,
    intercept 7, r2 = 1 for every group."""
    import os
    rows = [(i, "A" if i % 2 else "B", float(i % 50 + 1), 3.0 * (i % 50 + 1) + 7.0,
             0.0, "x", "x", "x", "x", 1, 1, 1, "1996-01-01")
            for i in range(200)]
    # build a minimal lineitem-shaped parquet with the columns the query reads
    df = spark.createDataFrame(
        [(r[1], r[2], r[3]) for r in rows],
        "l_returnflag string, l_quantity double, l_extendedprice double",
    )
    tmp = str(tmp_path / "sf")
    os.makedirs(tmp, exist_ok=True)
    df.write.mode("overwrite").parquet(os.path.join(tmp, "lineitem.parquet"))
    from nyc_opendata_etl_spark.queries.relational import q_stats_regression

    out = {r.l_returnflag: r for r in q_stats_regression(spark, tmp).collect()}
    for g in ("A", "B"):
        assert out[g].slope == 3.0
        assert out[g].intercept == 7.0
        assert out[g].r2 == 1.0


def test_embedding_collapse_immune_to_copy_groups(spark):
    """lsh_neardup_pairs on a corpus with 50 identical copies of each
    vector must emit exactly the pairs of the distinct-vector corpus —
    the duplicate-skew immunity contract that kept 100× from OOMing."""
    import random

    rng = random.Random(7)
    base = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(6)]
    distinct = [(i, base[i]) for i in range(6)]
    copies = [(100 * (c + 1) + i, base[i]) for i in range(6) for c in range(50)]
    planes = [[1.0, -1.0] + [0.0] * 6]
    mk = lambda rows: spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    a = {(r.id_a, r.id_b) for r in similarity.lsh_neardup_pairs(
        mk(distinct), planes, threshold=0.2).collect()}
    b = {(r.id_a, r.id_b) for r in similarity.lsh_neardup_pairs(
        mk(distinct + copies), planes, threshold=0.2).collect()}
    assert a == b  # copies collapse to the min-id (distinct) reps
