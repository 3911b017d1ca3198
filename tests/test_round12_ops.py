"""Round-12 pins: the advisor fixes — split/filter/rejoin URL param
normalization (the stray-'&' defect class), the self-describing LSH
bucket index (params record + probe validation), and NULL-best-sim
(zero-norm vector) exclusion from IVF assignment.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_opendata_etl_spark.operators import dedup, similarity


def _norm(spark, urls: list[str]) -> list[str]:
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return [r.n for r in df.select(dedup.normalize_url("url").alias("n")).collect()]


# ── normalize_url split/filter/rejoin (advisor r11, low) ────────────


def test_normalize_url_utm_first_no_stray_amp(spark):
    # the defect case: utm param FIRST, real param after — the old
    # regex form produced 'https://a.com/x&page=2' (stray '&'), which
    # under-merged vs the '?page=2' form AND could collide with a raw
    # URL whose PATH literally ends in 'x&page=2'
    out = _norm(
        spark,
        [
            "https://a.com/x?utm_s=1&page=2",
            "https://a.com/x?page=2",
            "https://a.com/x?page=2&utm_s=1",
            "https://a.com/x?utm_a=1&page=2&utm_b=2",
        ],
    )
    assert set(out) == {"https://a.com/x?page=2"}


def test_normalize_url_no_path_collision_with_literal_amp(spark):
    # a genuinely different raw URL whose path contains 'x&page=2'
    # must NOT merge with the utm-stripped query form
    out = _norm(
        spark,
        [
            "https://a.com/x&page=2",  # '&' literally in the path
            "https://a.com/x?utm_s=1&page=2",
        ],
    )
    assert out[0] == "https://a.com/x&page=2"
    assert out[1] == "https://a.com/x?page=2"
    assert out[0] != out[1]


def test_normalize_url_param_edge_runs(spark):
    # '&&' runs collapse, bare '?' drops, trailing '&' drops
    assert _norm(
        spark,
        [
            "https://a.com/x?a=1&&b=2",
            "https://a.com/x?",
            "https://a.com/x?a=1&",
            "https://a.com/x?&a=1",
        ],
    ) == [
        "https://a.com/x?a=1&b=2",
        "https://a.com/x",
        "https://a.com/x?a=1",
        "https://a.com/x?a=1",
    ]


def test_normalize_url_slash_variant_with_live_params_merges(spark):
    # path trim now runs BEFORE the surviving query re-attaches
    assert set(
        _norm(spark, ["https://a.com/x/?page=2", "https://a.com/x?page=2"])
    ) == {"https://a.com/x?page=2"}


def test_normalize_url_second_question_mark_stays_in_query(spark):
    # split is at the FIRST '?' only; later '?' belong to the query
    assert _norm(spark, ["https://a.com/x?q=a?b"]) == ["https://a.com/x?q=a?b"]


def test_normalize_url_still_idempotent(spark):
    urls = [
        "https://a.com/x?utm_s=1&page=2",
        "https://a.com/x?a=1&&b=2&",
        "https://WWW.a.com/x/?utm_a=1&p=2#frag",
        "https://a.com/x&page=2",
    ]
    once = _norm(spark, urls)
    assert _norm(spark, once) == once


def test_normalize_url_spark_matches_duckdb_twin(spark):
    import duckdb

    urls = [
        "https://a.com/x?utm_s=1&page=2",
        "https://a.com/x?page=2",
        "https://a.com/x&page=2",
        "https://a.com/x?a=1&&b=2&",
        "https://a.com/x?",
        "HTTPS://WWW.A.com/x/?utm_a=1&p=2#frag",
        "https://www.www.a.com/p/",
        "https://a.com/r?to=https://www.b.com/x",
        "https://a.com/x?q=a?b",
        "not a url",
    ]
    got_spark = _norm(spark, urls)
    expr = dedup.NORMALIZE_URL_ORACLE.format(u="url")
    con = duckdb.connect()
    got_duck = [
        r[0]
        for r in con.execute(
            f"SELECT {expr} FROM (SELECT unnest(?) AS url)", [urls]
        ).fetchall()
    ]
    assert got_spark == got_duck


# ── self-describing LSH bucket index (advisor r11, medium) ──────────


def _docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "the quick brown fox jumps over the lazy dog again and again!"),
        (2, "completely different text about spark physical planning xyz"),
        (3, "the quick brown fox jumps over the lazy dog again and again"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lsh_index_params_roundtrip(spark, tmp_path):
    path = str(tmp_path / "lsh_idx")
    docs = _docs(spark)
    dedup.build_lsh_bucket_index(
        docs.filter(F.col("doc_id") % 2 == 0), path, num_hashes=16, bands=4
    )
    p = spark.read.parquet(f"{path}/params").first()
    assert (p["num_hashes"], p["bands"]) == (16, 4)
    # matching probe runs; batch doc 3 is byte-identical to corpus
    # doc 0 (same canon → same signature → certain collision)
    out = dedup.incremental_near_dups(
        docs.filter(F.col("doc_id") % 2 == 1), path, num_hashes=16, bands=4
    ).collect()
    matches = {r["doc_id"]: r["corpus_match"] for r in out}
    assert matches[3] == 0
    assert set(matches) <= {1, 3}


def test_lsh_index_param_mismatch_raises(spark, tmp_path):
    path = str(tmp_path / "lsh_idx2")
    dedup.build_lsh_bucket_index(_docs(spark), path, num_hashes=16, bands=4)
    with pytest.raises(ValueError, match="num_hashes=8"):
        dedup.incremental_near_dups(
            _docs(spark), path, num_hashes=8, bands=4
        )
    with pytest.raises(ValueError, match="bands=2"):
        dedup.incremental_near_dups(
            _docs(spark), path, num_hashes=16, bands=2
        )


# ── zero-norm vectors excluded from IVF assignment (advisor r11) ────


def test_ivf_assign_drops_zero_norm_vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),  # near centroid 0
        (3, [0.0, 0.0, 0.0, 0.0]),  # zero-norm garbage
        (4, [0.1, 0.9, 0.0, 0.0]),  # near centroid 1
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity._ivf_assign(emb, 2, "vec_id", "embedding").collect()
    got = {r["id"]: r["cid"] for r in out}
    # the zero-norm vector is EXCLUDED, not piled onto cid 0
    assert 3 not in got
    assert got == {0: 0, 1: 1, 2: 0, 4: 1}


def test_ivf_assign_zero_norm_centroid_never_wins(spark):
    rows = [
        (0, [0.0, 0.0]),  # zero-norm seed centroid
        (1, [0.0, 1.0]),
        (2, [0.1, 0.9]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity._ivf_assign(emb, 2, "vec_id", "embedding").collect()
    got = {r["id"]: r["cid"] for r in out}
    # vectors with a real-sim centroid available pick it; the zero-norm
    # centroid 0 captures nothing, and vector 0 itself (zero-norm) drops
    assert got == {1: 1, 2: 1}


# ── incremental IVF-PQ index maintenance (VERDICT r11 item 2) ───────


def test_update_ivfpq_index_equals_oneshot_against_build_quantizers(
    spark, tmp_path
):
    """build(evens) + update(odds) must serve the SAME codes relation
    as one-shot routing/encoding of the full corpus against the
    build-half quantizers — the add()-without-retraining contract."""
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    inc_path = str(tmp_path / "inc")
    similarity.build_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 0), inc_path)
    similarity.update_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 1), inc_path)

    # one-shot: route + encode ALL vectors against the build-half
    # quantizers (read back from the staged index)
    cents = spark.read.parquet(f"{inc_path}/centroids")
    cb = spark.read.parquet(f"{inc_path}/codebook")
    assigned = similarity._ivf_assign(emb, 16, "vec_id", "embedding", cents=cents)
    subs = similarity._sub_rows(
        emb, 8, 8, "embedding", F.col("vec_id"), "id", "sub"
    )
    expect = {
        (r["id"], r["m"]): (r["code"], r["cid"])
        for r in similarity._pq_encode_against(subs, cb)
        .join(assigned, "id")
        .collect()
    }
    got = {
        (r["id"], r["m"]): (r["code"], r["cid"])
        for r in spark.read.parquet(f"{inc_path}/codes").collect()
    }
    assert got == expect
    assert len(got) == 40 * 8  # every vector, every subspace, exactly once


def test_update_ivfpq_index_appends_not_overwrites(spark, tmp_path):
    rows = [(i, [float(i + 1)] * 8 + [0.0] * 56) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "idx")
    similarity.build_ivfpq_index(emb.filter(F.col("vec_id") < 16), path)
    before = spark.read.parquet(f"{path}/codes").count()
    similarity.update_ivfpq_index(emb.filter(F.col("vec_id") >= 16), path)
    after = spark.read.parquet(f"{path}/codes").count()
    assert before == 16 * 8
    assert after == 20 * 8  # build rows intact, update rows appended


# ── large-star/small-star connected components (VERDICT r11 item 3) ─


def _cc_both(spark, edges: list[tuple[int, int]]):
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    base = {
        (r["doc_id"], r["cluster_id"])
        for r in dedup.duplicate_clusters(pairs).collect()
    }
    star = {
        (r["doc_id"], r["cluster_id"])
        for r in dedup.duplicate_clusters_logstar(pairs).collect()
    }
    return base, star


def test_logstar_equals_label_propagation_mixed_shapes(spark):
    # two cliques, a chain bridging nothing, a 2-clique, a star
    edges = [
        (1, 2), (1, 3), (2, 3),          # clique {1,2,3}
        (10, 11), (11, 12), (12, 13),    # chain {10..13}
        (20, 21),                        # pair
        (30, 31), (30, 32), (30, 33),    # star centered 30
    ]
    base, star = _cc_both(spark, edges)
    assert base == star
    labels = dict(star)
    assert {labels[i] for i in (1, 2, 3)} == {1}
    assert {labels[i] for i in (10, 11, 12, 13)} == {10}


def test_logstar_long_chain_converges_in_log_rounds(spark):
    # a 64-node chain: diameter 63 — label propagation would need
    # max_iter >= 63; log-star must finish within its default 12
    edges = [(i, i + 1) for i in range(100, 163)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    out = dedup.duplicate_clusters_logstar(pairs, max_iter=12).collect()
    labels = {r["doc_id"]: r["cluster_id"] for r in out}
    assert len(labels) == 64
    assert set(labels.values()) == {100}


def test_logstar_empty_and_reversed_ids(spark):
    # empty input converges immediately to empty output
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup.duplicate_clusters_logstar(empty).collect() == []
    # id_a > id_b pairs (non-canonical orientation) still work
    base, star = _cc_both(spark, [(5, 2), (9, 5)])
    assert base == star
    assert dict(star) == {2: 2, 5: 2, 9: 2}


def test_logstar_collapsed_query_equals_labelprop_query(spark):
    from nyc_opendata_etl_spark.queries import queries

    sf = "/root/testdata/sf0.001"
    a = {
        (r["doc_id"], r["cluster_id"])
        for r in queries()["dedup_clusters"](spark, sf).collect()
    }
    b = {
        (r["doc_id"], r["cluster_id"])
        for r in queries()["dedup_clusters_logstar"](spark, sf).collect()
    }
    assert a == b and len(a) > 0


# ── real staged-merges BPE in the tokenizer slot (VERDICT item 4) ───


def test_bpe_apply_orders_equivalent():
    """lowest-rank-present-first (the UDF loop) == one pass per merge
    in rank order (bpe_word_token_count, what the SQL oracle replays).
    Random words over a small alphabet so merges chain deeply."""
    import random

    from nyc_opendata_etl_spark.operators import text as T

    rng = random.Random(42)
    # learn merges from a synthetic vocab driver-side (no Spark needed)
    words = ["".join(rng.choice("abcd") for _ in range(rng.randint(1, 12)))
             for _ in range(300)]
    vocab: dict[tuple, int] = {}
    for w in words:
        vocab[tuple(w)] = vocab.get(tuple(w), 0) + 1
    # reuse the library's own learning loop via a local frame is heavy;
    # derive merges with the same rules instead
    merges = []
    v = dict(vocab)
    for _ in range(40):
        counts = {}
        for syms, n in v.items():
            for i in range(len(syms) - 1):
                if syms[i] != syms[i + 1]:
                    p = (syms[i], syms[i + 1])
                    counts[p] = counts.get(p, 0) + n
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if counts[best] < 2:
            break
        merges.append(best)
        x, y = best
        nv = {}
        for syms, n in v.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == x and syms[i + 1] == y:
                    out.append(x + y); i += 2
                else:
                    out.append(syms[i]); i += 1
            t = tuple(out)
            nv[t] = nv.get(t, 0) + n
        v = nv
    assert len(merges) >= 10

    ranks = {p: r for r, p in enumerate(merges)}

    def lowest_rank_first(w):
        syms = list(w)
        while len(syms) > 1:
            best_rank = None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank = r
            if best_rank is None:
                break
            x, y = merges[best_rank]
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == x and syms[i + 1] == y:
                    out.append(x + y); i += 2
                else:
                    out.append(syms[i]); i += 1
            syms = out
        return len(syms)

    probe = ["".join(rng.choice("abcd") for _ in range(rng.randint(1, 20)))
             for _ in range(500)]
    for w in probe:
        assert lowest_rank_first(w) == T.bpe_word_token_count(w, merges), w


def test_bpe_fixture_properties():
    from nyc_opendata_etl_spark.operators import text as T

    merges = T.load_bpe_merges()
    assert len(merges) >= 32
    # no self-pairs (the one-pass soundness restriction)
    assert all(x != y for x, y in merges)
    # composite symbols only reference earlier-created symbols
    known = set()
    for x, y in merges:
        for side in (x, y):
            assert len(side) == 1 or side in known, (x, y)
        known.add(x + y)


def test_bpe_udf_matches_reference_and_duckdb(spark):
    import duckdb

    from nyc_opendata_etl_spark.operators import text as T
    from nyc_opendata_etl_spark.queries.llm_ops import (
        _BPE_N,
        _BPE_PASS_SQL,
        _BPE_VALUES_SQL,
        _WS_CHARS,
    )

    merges = T.load_bpe_merges()
    texts = [
        "the merger parts flowed in order",
        "hello,world!!  multiple   spaces\tand\ttabs",
        "numbers 12345 and 9 mixed2tokens",
        "",
        None,
        "zzzzz unseen-alphabet éé",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        r["n"]
        for r in df.select(
            T.pandas_bpe_token_count("text", merges).alias("n")
        ).collect()
    ]
    # reference: per-word rank-ordered passes
    import re

    pat = re.compile(T.BPE_ISH_RE)

    def ref(t):
        if t is None:
            return None
        return sum(T.bpe_word_token_count(w, merges) for w in pat.findall(t))

    assert got == [ref(t) for t in texts]

    # DuckDB recursive replay agrees word-by-word
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT * FROM (VALUES "
                + ", ".join(f"({i}, ?)" for i in range(len(texts)))
                + ") t(doc_id, text)", texts)
    q = f"""
    WITH RECURSIVE m(r, lft, rgt) AS ({_BPE_VALUES_SQL}),
    dw AS (
        SELECT doc_id, unnest(regexp_extract_all(text,
            '[A-Za-z]+|[0-9]+|[^A-Za-z0-9{_WS_CHARS}]')) AS word
        FROM documents
    ),
    w(word) AS (SELECT DISTINCT word FROM dw),
    b(word, syms, r) AS (
        SELECT word, str_split(word, ''), 0 FROM w
        UNION ALL
        SELECT b.word, {_BPE_PASS_SQL}, b.r + 1
        FROM b JOIN m ON m.r = b.r WHERE b.r < {_BPE_N}
    ),
    wc AS (SELECT word, len(syms) AS n FROM b WHERE r = {_BPE_N}),
    dc AS (SELECT dw.doc_id, sum(wc.n) AS n FROM dw JOIN wc USING (word)
           GROUP BY dw.doc_id)
    SELECT d.doc_id,
           CASE WHEN d.text IS NULL THEN NULL ELSE COALESCE(dc.n, 0) END AS n
    FROM documents d LEFT JOIN dc USING (doc_id) ORDER BY d.doc_id
    """
    duck = [r[1] for r in con.execute(q).fetchall()]
    assert [g if g is not None else None for g in got] == duck


# ── real PNG decode in the multimodal path (VERDICT item 6) ─────────


def test_png_roundtrip_stats():
    from nyc_opendata_etl_spark.operators import multimodal as mm

    for seed, w, h in [(0, 1, 1), (7, 13, 11), (250, 5, 3), (123, 12, 1)]:
        blob = mm.png_encode_gray(seed, w, h)
        gw, gh, px = mm.png_decode_gray(blob)
        assert (gw, gh) == (w, h)
        expect = [(seed * 7 + i * 3) % 256 for i in range(w * h)]
        assert px == expect


def test_png_decode_handles_all_filters():
    """The encoder writes filter 0 only, but the decoder implements the
    full spec — exercise Sub/Up/Average/Paeth with hand-built chunks
    and verify against a reference unfiltering."""
    import struct
    import zlib

    from nyc_opendata_etl_spark.operators import multimodal as mm

    def chunk(tag, body):
        crc = zlib.crc32(tag + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + tag + body + struct.pack(">I", crc)

    # 4x4 image, rows filtered with types 1..4 against known pixels
    pixels = [
        [10, 20, 30, 40],
        [15, 25, 35, 45],
        [100, 110, 120, 130],
        [7, 8, 9, 10],
    ]
    raw = bytearray()
    prev = [0, 0, 0, 0]
    for y, row in enumerate(pixels):
        f = y + 1  # filters 1,2,3,4
        raw.append(f)
        cur = row
        for x, v in enumerate(cur):
            a = cur[x - 1] if x else 0
            b = prev[x]
            c = prev[x - 1] if x else 0
            if f == 1:
                enc = (v - a) % 256
            elif f == 2:
                enc = (v - b) % 256
            elif f == 3:
                enc = (v - (a + b) // 2) % 256
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else b if pb <= pc else c
                enc = (v - pred) % 256
            raw.append(enc)
        prev = cur
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
    blob = (
        mm._PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    w, h, px = mm.png_decode_gray(blob)
    assert (w, h) == (4, 4)
    assert px == [v for row in pixels for v in row]


def test_png_decode_rejects_garbage():
    import pytest as _pytest

    from nyc_opendata_etl_spark.operators import multimodal as mm

    with _pytest.raises(ValueError, match="signature"):
        mm.png_decode_gray(b"GIF89a not a png")
    # RGB color type rejected loudly, not mis-decoded
    import struct
    import zlib

    def chunk(tag, body):
        crc = zlib.crc32(tag + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + tag + body + struct.pack(">I", crc)

    rgb = (
        mm._PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 14))
        + chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="color_type=2"):
        mm.png_decode_gray(rgb)


def test_png_spark_pipeline_decodes_from_bytes(spark):
    from nyc_opendata_etl_spark.operators import multimodal as mm

    docs = spark.createDataFrame(
        [(i, "x") for i in (0, 5, 26, 142)], "doc_id long, text string"
    )
    out = {
        r["media_id"]: r
        for r in mm.extract_image_features(mm.synthesize_png_media(docs)).collect()
    }
    for i in (0, 5, 26, 142):
        w, h, seed = i % 13 + 1, i % 11 + 1, i % 251
        expect = [(seed * 7 + j * 3) % 256 for j in range(w * h)]
        r = out[i]
        assert (r["width"], r["height"]) == (w, h)
        assert r["pixel_sum"] == sum(expect)
        assert (r["px_min"], r["px_max"]) == (min(expect), max(expect))


def test_update_lsh_bucket_index_appends_and_probe_sees_both(spark, tmp_path):
    """build(first half) + update(second half) must serve the same
    probe results as a one-shot build of the full corpus — the
    append-maintenance contract; params come from the index record."""
    rows = [
        (i, f"document number {i} about {'spark' if i % 2 else 'duck'} "
            f"planning and execution details repeated for shingles")
        for i in range(8)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    batch = spark.createDataFrame(
        [(100, rows[0][1]), (101, rows[1][1])], "doc_id long, text string"
    )

    one_shot = str(tmp_path / "oneshot")
    dedup.build_lsh_bucket_index(docs, one_shot)
    incr = str(tmp_path / "incr")
    dedup.build_lsh_bucket_index(docs.filter(F.col("doc_id") < 4), incr)
    dedup.update_lsh_bucket_index(docs.filter(F.col("doc_id") >= 4), incr)

    a = {
        (r["doc_id"], r["corpus_match"])
        for r in dedup.incremental_near_dups(batch, one_shot).collect()
    }
    b = {
        (r["doc_id"], r["corpus_match"])
        for r in dedup.incremental_near_dups(batch, incr).collect()
    }
    assert a == b
    assert (100, 0) in a and (101, 1) in a  # byte-identical matches hit


def test_bpe_encode_ids_consistent_with_count(spark):
    """Encoder totals must equal the counting UDF; head ids decode the
    first tokens in pretoken order under the bpe_vocab_ids scheme."""
    from nyc_opendata_etl_spark.operators import text as T

    merges = T.load_bpe_merges()
    texts = ["the order flows", "", None, "ab12!cd"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    enc = df.select(
        T.pandas_bpe_encode("text", merges, head=32).alias("e"),
        T.pandas_bpe_token_count("text", merges).alias("n"),
    ).collect()
    for r in enc:
        if r["e"]["n_tokens"] is None:
            assert r["n"] is None
        else:
            assert r["e"]["n_tokens"] == r["n"]
            ids = r["e"]["ids_head"].split() if r["e"]["ids_head"] else []
            assert len(ids) == min(r["n"], 32)
    vocab = T.bpe_vocab_ids(merges)
    # composite ids disjoint from codepoints, stable min-rank on dupes
    assert all(v >= 1_000_000 for v in vocab.values())


# ── index lifecycle: delete + compact (round-12 extension) ──────────


def test_compact_lsh_index_deletes_and_dedups(spark, tmp_path):
    from nyc_opendata_etl_spark.operators import index_maintenance as im

    path = str(tmp_path / "lsh")
    docs = _docs(spark)
    dedup.build_lsh_bucket_index(docs, path)
    # append the same batch again: duplicate bucket rows accumulate
    dedup.update_lsh_bucket_index(docs.filter(F.col("doc_id") == 2), path)
    before = spark.read.parquet(f"{path}/buckets").count()
    im.compact_lsh_index(
        spark, path, delete_ids=spark.createDataFrame([(0,)], "doc_id long")
    )
    after = spark.read.parquet(f"{path}/buckets")
    assert after.filter(F.col("corpus_id") == 0).count() == 0
    assert after.count() < before  # dups gone too
    # params survive compaction; probe still validates against them
    p = spark.read.parquet(f"{path}/params").first()
    assert (p["num_hashes"], p["bands"]) == (16, 4)
    # a probe after compaction no longer matches the deleted rep 0:
    # doc 3 is byte-identical to 0, so its canon collapses to rep 0 in
    # the probe batch — but 0 is gone from the corpus side
    out = {
        r["doc_id"]: r["corpus_match"]
        for r in dedup.incremental_near_dups(
            docs.filter(F.col("doc_id") == 3), path
        ).collect()
    }
    assert out.get(3) != 0


def test_compact_ivfpq_index_deletes_codes(spark, tmp_path):
    from nyc_opendata_etl_spark.operators import index_maintenance as im

    rows = [(i, [float(i % 7 + 1)] * 64) for i in range(24)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivf")
    similarity.build_ivfpq_index(emb, path)
    im.compact_ivfpq_index(
        spark, path,
        delete_ids=spark.createDataFrame([(20,), (21,)], "vec_id long"),
    )
    codes = spark.read.parquet(f"{path}/codes")
    assert codes.filter(F.col("id").isin(20, 21)).count() == 0
    assert codes.count() == 22 * 8
    # quantizers untouched
    assert spark.read.parquet(f"{path}/centroids").count() == 16
    p = spark.read.parquet(f"{path}/params").first()
    assert p["m"] == 8


def test_leakage_safe_split_never_splits_a_cluster(spark):
    from nyc_opendata_etl_spark.queries import queries

    sf = "/root/testdata/sf0.001"
    rows = queries()["corpus_split_leakage_safe"](spark, sf).collect()
    assert rows
    splits = {"train", "val", "test"}
    by_key = {}
    for r in rows:
        assert r["split"] in splits
        by_key.setdefault(r["split_key"], set()).add(r["split"])
    # every split_key (cluster or singleton) maps to exactly one split
    assert all(len(s) == 1 for s in by_key.values())
    # near-dup CLUSTERS (multi-doc keys) exist in this corpus and are
    # whole-in-one-split — the property a per-doc hash split violates
    multi = [k for k, _ in by_key.items()
             if sum(1 for r in rows if r["split_key"] == k) > 1]
    assert multi
    # stability: adding docs never moves existing ones — the split is
    # a pure function of the key
    again = {
        (r["doc_id"], r["split"])
        for r in queries()["corpus_split_leakage_safe"](spark, sf).collect()
    }
    assert again == {(r["doc_id"], r["split"]) for r in rows}


def test_e2e_curation_stage_laws(spark):
    from nyc_opendata_etl_spark.queries import queries

    sf = "/root/testdata/sf0.001"
    rows = queries()["corpus_e2e_curation"](spark, sf).collect()
    assert rows
    docs_n = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert len(rows) < docs_n  # dedup actually removed members
    by_pack = {}
    for r in rows:
        by_pack.setdefault(r["pack_id"], []).append(r)
    for pack in by_pack.values():
        # a pack never spans splits or shards; fill = sum of its costs
        assert len({p["split"] for p in pack}) == 1
        assert len({p["shard"] for p in pack}) == 1
        assert pack[0]["pack_fill"] == sum(p["cost"] for p in pack)
        # window-chunk overshoot bound: fill < budget + max cost in pack
        assert pack[0]["pack_fill"] < 512 + max(p["cost"] for p in pack)
    # survivors' split equals the standalone leakage-safe rule on the
    # same key space (survivor id == cluster key)
    splits = {(r["doc_id"], r["split"]) for r in rows}
    leak = {
        (r["doc_id"], r["split"])
        for r in queries()["corpus_split_leakage_safe"](spark, sf).collect()
    }
    assert splits <= leak


def test_compact_text_index_equals_fresh_build_of_survivors(spark, tmp_path):
    """build(all) + delete + compact must serve byte-identical probe
    results to a from-scratch build over the surviving corpus — the
    contract search_bm25_after_delete's oracle checks at the BM25
    level, pinned here at the postings/vocab/stats level."""
    from nyc_opendata_etl_spark.operators import index_maintenance as im
    from nyc_opendata_etl_spark.operators import text as T

    rows = [
        (i, f"doc {i} with shared words hash join vector plus filler {i % 3}")
        for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    survivors = docs.filter(F.col("doc_id") % 3 != 0)

    lifecycle = str(tmp_path / "life")
    T.build_text_index(docs, lifecycle)
    im.compact_text_index(
        spark, lifecycle,
        delete_ids=docs.filter(F.col("doc_id") % 3 == 0).select("doc_id"),
    )
    fresh = str(tmp_path / "fresh")
    T.build_text_index(survivors, fresh)

    for rel, key in [("postings", ["term", "doc_id"]), ("vocab", ["term"]),
                     ("stats", [])]:
        a = {tuple(r) for r in spark.read.parquet(f"{lifecycle}/{rel}").collect()}
        b = {tuple(r) for r in spark.read.parquet(f"{fresh}/{rel}").collect()}
        assert a == b, rel
    # and the probe agrees end-to-end
    pa = {tuple(r) for r in T.bm25_topk_indexed(spark, lifecycle, ["hash", "join"]).collect()}
    pb = {tuple(r) for r in T.bm25_topk_indexed(spark, fresh, ["hash", "join"]).collect()}
    assert pa == pb


def test_bench_steal_window_math():
    """bench.py's /proc/stat window math: steal/iowait percentages over
    a tick delta, guest fields excluded from the total (double-count
    fix pinned), degenerate windows -> None."""
    import bench

    before = (100, 50, 10_000)
    after = (150, 80, 11_000)  # +50 steal, +30 iowait, +1000 total
    assert bench._tick_pcts(before, after) == (5.0, 3.0)
    assert bench._tick_pcts(before, before) is None   # zero-width window
    assert bench._tick_pcts(None, after) is None
    # _cpu_ticks on this Linux box returns a consistent triple
    t = bench._cpu_ticks()
    assert t is not None and t[2] >= t[0] + t[1]
