"""Round-12 extension pins: the fingerprint index of operators/dedup —
a refcounted ``(h, cnt)`` delta log partitioned by ``b``, shared by the
staged incremental-dedup queries and the streaming ingest. Contract
under test: delta-log appends for both ingest and takedown, probe-time
SUM semantics (deletes visible immediately, canons shared with
survivors stay live), and compaction folding the log to exactly what a
fresh build of the survivors writes.
"""

from __future__ import annotations

import hashlib
import shutil
import tempfile
from collections import Counter

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from nyc_opendata_etl_spark.operators import dedup
from nyc_opendata_etl_spark.operators import index_maintenance as im

DUP_TEXT = "the quick brown fox jumps over the lazy dog again and again"


def _docs(spark):
    rows = [
        (0, DUP_TEXT),
        (1, DUP_TEXT + "!"),
        (2, "completely different text about spark physical planning xyz"),
        (3, DUP_TEXT),  # byte-identical to doc 0: shared canon, rc=2
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _probe_ids(spark, path, batch) -> set[int]:
    idx = dedup.read_fingerprint_index(spark, path)
    return {
        r["doc_id"] for r in dedup.incremental_new_docs(batch, idx).collect()
    }


def _log_rows(spark, path) -> list[tuple]:
    """Sorted ``(h, cnt, b)`` rows of the log at ``path``."""
    return sorted(map(tuple, dedup.read_fingerprint_index(spark, path).collect()))


def test_build_rc_counts_docs_per_canon(spark, tmp_path):
    path = str(tmp_path / "fp")
    dedup.build_fingerprint_index(_docs(spark), path)
    rows = spark.read.parquet(path).collect()
    # 3 distinct canons; the shared one carries refcount 2
    assert sorted(r["cnt"] for r in rows) == [1, 1, 2]


def test_delete_shared_canon_keeps_survivor_live(spark, tmp_path):
    path = str(tmp_path / "fp")
    docs = _docs(spark)
    dedup.build_fingerprint_index(docs, path)
    # withdraw doc 3 — doc 0 still shares the canon, so a re-ingested
    # byte-identical copy must NOT be flagged new (bare-hash index
    # could only get this right by refusing to delete at all)
    dedup.delete_from_fingerprint_index(
        docs.filter(F.col("doc_id") == 3), path
    )
    reingest = spark.createDataFrame([(9, DUP_TEXT)], "doc_id long, text string")
    assert _probe_ids(spark, path, reingest) == set()
    # withdraw doc 0 too — the canon's live refcount hits 0 and the
    # probe flips to "new" IMMEDIATELY, before any compaction
    dedup.delete_from_fingerprint_index(
        docs.filter(F.col("doc_id") == 0), path
    )
    assert _probe_ids(spark, path, reingest) == {9}


def test_compact_rc_equals_fresh_build_of_survivors(spark, tmp_path):
    live = str(tmp_path / "fp")
    fresh = str(tmp_path / "fp_fresh")
    docs = _docs(spark)
    dedup.build_fingerprint_index(docs.filter(F.col("doc_id") <= 1), live)
    dedup.update_fingerprint_index(docs.filter(F.col("doc_id") >= 2), live)
    dedup.delete_from_fingerprint_index(
        docs.filter(F.col("doc_id").isin(0, 2)), live
    )
    im.compact_fingerprint_index(spark, live)
    dedup.build_fingerprint_index(
        docs.filter(F.col("doc_id").isin(1, 3)), fresh
    )
    got = _log_rows(spark, live)
    assert got == _log_rows(spark, fresh)
    # and dead canons are gone as ROWS, not carried at cnt<=0
    assert all(cnt > 0 and b == dedup.COMPACTED_B for _, cnt, b in got)


def test_compact_rc_changes_no_probe_answer(spark, tmp_path):
    path = str(tmp_path / "fp")
    docs = _docs(spark)
    dedup.build_fingerprint_index(docs, path)
    dedup.delete_from_fingerprint_index(
        docs.filter(F.col("doc_id").isin(0, 3)), path
    )
    batch = spark.createDataFrame(
        [(10, DUP_TEXT), (11, DUP_TEXT + "!"), (12, "never seen before zzz")],
        "doc_id long, text string",
    )
    before = _probe_ids(spark, path, batch)
    im.compact_fingerprint_index(spark, path)
    assert _probe_ids(spark, path, batch) == before == {10, 12}


# Tiny alphabet with case + runs of whitespace so distinct raw strings
# genuinely collide on the canonical form (the refcount unit is the
# CANON, not the raw text) — the property is vacuous without collisions.
_RC_TEXT = st.text(alphabet="aB ", min_size=0, max_size=8)


def _canon_fp(text: str) -> int:
    canon = " ".join(text.lower().split())
    return int(hashlib.md5(canon.encode()).hexdigest(), 16) % (10**9)


@settings(max_examples=5, deadline=None)
@given(data=st.data())
def test_rc_index_matches_brute_force_on_arbitrary_interleavings(spark, data):
    """For ANY build corpus, append batch, sub-multiset of deletions and
    probe batch: the delta-log probe must flag exactly the probe texts
    whose canonical form has no live refcount under a pure-Python
    multiset recomputation, and compaction must fold the log to exactly
    the live (fingerprint, refcount) rows. One scenario per example
    (the per-example Spark round-trips bound max_examples)."""
    corpus = data.draw(st.lists(_RC_TEXT, min_size=1, max_size=10))
    upd = data.draw(st.lists(_RC_TEXT, min_size=0, max_size=5))
    everything = corpus + upd
    gone_flags = data.draw(
        st.lists(
            st.booleans(), min_size=len(everything), max_size=len(everything)
        )
    )
    gone = [t for t, g in zip(everything, gone_flags) if g]
    probe = data.draw(st.lists(_RC_TEXT, min_size=1, max_size=6))

    rc = Counter(_canon_fp(t) for t in everything)
    rc.subtract(_canon_fp(t) for t in gone)
    live = {h for h, n in rc.items() if n > 0}
    want_new = sorted(i for i, t in enumerate(probe) if _canon_fp(t) not in live)

    root = tempfile.mkdtemp(prefix="rc_prop_")
    try:
        path = f"{root}/idx"

        def df(texts, start=0):
            return spark.createDataFrame(
                list(enumerate(texts, start)), "doc_id long, text string"
            )

        dedup.build_fingerprint_index(df(corpus), path)
        if upd:
            dedup.update_fingerprint_index(df(upd, len(corpus)), path)
        if gone:
            dedup.delete_from_fingerprint_index(df(gone), path)
        got_new = sorted(
            r["doc_id"]
            for r in dedup.incremental_new_docs(
                df(probe), dedup.read_fingerprint_index(spark, path)
            ).collect()
        )
        assert got_new == want_new
        im.compact_fingerprint_index(spark, path)
        got_rows = _log_rows(spark, path)
        want_rows = sorted((h, rc[h], dedup.COMPACTED_B) for h in live)
        assert got_rows == want_rows
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_rc_probe_never_shuffles_the_index(spark, tmp_path):
    path = str(tmp_path / "fp")
    dedup.build_fingerprint_index(_docs(spark), path)
    plan = dedup.incremental_new_docs(
        _docs(spark), dedup.read_fingerprint_index(spark, path)
    )._jdf.queryExecution().executedPlan().toString()
    # batch hashes broadcast into the index scan; no sort-merge join
    # (which would shuffle the full index on h) anywhere in the probe
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


# ── real WAV decode in the multimodal path (PNG move, replayed) ─────


def _wav_closed_form(i: int) -> dict:
    seed, n, nch = i % 251, i % 50 + 1, i % 2 + 1
    samples = [((seed * 31 + k * 17) % 65536) - 32768 for k in range(n * nch)]
    return {
        "n_channels": nch,
        "sample_rate": 8000,
        "n_samples": n,
        "duration_ms": n * 1000 // 8000,
        "sample_sum": sum(samples),
        "s_min": min(samples),
        "s_max": max(samples),
    }


def test_wav_roundtrip_mono_and_stereo():
    from nyc_opendata_etl_spark.operators import multimodal as mm

    for seed, n, nch in [(0, 1, 1), (7, 5, 2), (250, 50, 2), (13, 3, 1)]:
        payload = mm.wav_encode_pcm16(seed, n, n_channels=nch)
        got_nch, rate, samples = mm.wav_decode_pcm16(payload)
        assert (got_nch, rate) == (nch, 8000)
        assert samples == [
            ((seed * 31 + k * 17) % 65536) - 32768 for k in range(n * nch)
        ]


def test_wav_decode_rejects_garbage():
    import pytest

    from nyc_opendata_etl_spark.operators import multimodal as mm

    with pytest.raises(ValueError):
        mm.wav_decode_pcm16(b"not a wav at all")
    with pytest.raises(ValueError):
        # valid RIFF signature, truncated body
        mm.wav_decode_pcm16(b"RIFF\x04\x00\x00\x00WAVE")
    # empty and header-only payloads make the stdlib wave/chunk readers
    # raise bare EOFError — the contract converts it (ADVICE r12 low)
    with pytest.raises(ValueError):
        mm.wav_decode_pcm16(b"")
    with pytest.raises(ValueError):
        mm.wav_decode_pcm16(b"RIFF")


# ── streaming content-dedup ingest (streaming × staged-index) ───────


def _ingest_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _accepted_ids(spark, out_path) -> set[int]:
    return {r["doc_id"] for r in spark.read.parquet(out_path).collect()}


def test_index_or_none_missing_vs_corrupt(spark, tmp_path):
    """Only the path-missing case may read as 'no index yet'; a
    corrupt index file must RAISE so the micro-batch replays instead
    of silently admitting already-accepted canons (ADVICE r12
    medium)."""
    import pytest

    assert dedup.read_fingerprint_index(spark, str(tmp_path / "never_written")) is None
    bad = tmp_path / "idx"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"this is not a parquet footer")
    with pytest.raises(Exception):
        df = dedup.read_fingerprint_index(spark, str(bad))
        # schema inference may defer the footer read; force it
        if df is not None:
            df.collect()


def test_dedup_ingest_batches_accept_first_canon_only(spark, tmp_path):
    from nyc_opendata_etl_spark.streaming import ingest

    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    b0 = _ingest_docs(spark, [(0, "aa"), (1, "AA "), (2, "bb")])  # 1 dups 0
    b1 = _ingest_docs(spark, [(3, "aa"), (4, "cc")])  # 3 dups accepted 0
    ingest.dedup_ingest_batch(b0, 0, idx, out)
    ingest.dedup_ingest_batch(b1, 1, idx, out)
    assert _accepted_ids(spark, out) == {0, 2, 4}
    # index holds one live (cnt=1) row per ACCEPTED canon, tagged by batch
    rows = spark.read.parquet(idx).collect()
    assert sorted((r["cnt"], r["b"]) for r in rows) == [(1, 0), (1, 0), (1, 1)]


def test_dedup_ingest_replay_is_idempotent(spark, tmp_path):
    from nyc_opendata_etl_spark.streaming import ingest

    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    b0 = _ingest_docs(spark, [(0, "aa"), (1, "bb")])
    b1 = _ingest_docs(spark, [(2, "aa"), (3, "cc")])
    ingest.dedup_ingest_batch(b0, 0, idx, out)
    ingest.dedup_ingest_batch(b1, 1, idx, out)
    before_out = sorted(map(tuple, spark.read.parquet(out).collect()))
    before_idx = sorted(map(tuple, spark.read.parquet(idx).collect()))
    # re-deliver batch 1 (failure-before-checkpoint-commit scenario):
    # the b != 1 probe exclusion must reproduce the identical survivor
    # set and overwrite both partitions with the same content
    ingest.dedup_ingest_batch(b1, 1, idx, out)
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == before_out
    assert sorted(map(tuple, spark.read.parquet(idx).collect())) == before_idx
    assert _accepted_ids(spark, out) == {0, 1, 3}


def test_dedup_ingest_takedown_reopens_canon(spark, tmp_path):
    from nyc_opendata_etl_spark.streaming import ingest

    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    ingest.dedup_ingest_batch(
        _ingest_docs(spark, [(0, "aa"), (1, "bb")]), 0, idx, out
    )
    # 'aa' rejected while doc 0 is live
    ingest.dedup_ingest_batch(_ingest_docs(spark, [(2, "aa")]), 1, idx, out)
    assert _accepted_ids(spark, out) == {0, 1}
    # withdraw doc 0 -> canon refcount 0 -> next batch re-accepts
    dedup.delete_from_fingerprint_index(_ingest_docs(spark, [(0, "aa")]), idx)
    ingest.dedup_ingest_batch(_ingest_docs(spark, [(3, "aa")]), 2, idx, out)
    assert _accepted_ids(spark, out) == {0, 1, 3}
    # compaction folds to live rows only and changes no later answer
    im.compact_fingerprint_index(spark, idx)
    folded = _log_rows(spark, idx)
    assert all(cnt > 0 and b == dedup.COMPACTED_B for _, cnt, b in folded)
    ingest.dedup_ingest_batch(
        _ingest_docs(spark, [(4, "aa"), (5, "dd")]), 3, idx, out
    )
    assert _accepted_ids(spark, out) == {0, 1, 3, 5}


def test_fully_withdrawn_index_keeps_the_ingest_running(spark, tmp_path):
    """Compacting a log whose every canon was withdrawn leaves a
    directory with no part file; the next batch must still read it as
    an empty index (an inferred-schema read raised
    UNABLE_TO_INFER_SCHEMA, so every replay of the batch failed). An
    index built from an empty corpus is the same empty relation."""
    from nyc_opendata_etl_spark.streaming import ingest

    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    ingest.dedup_ingest_batch(_ingest_docs(spark, [(0, "aa")]), 0, idx, out)
    dedup.delete_from_fingerprint_index(_ingest_docs(spark, [(0, "aa")]), idx)
    im.compact_fingerprint_index(spark, idx)
    assert _log_rows(spark, idx) == []
    ingest.dedup_ingest_batch(_ingest_docs(spark, [(1, "bb")]), 1, idx, out)
    assert _accepted_ids(spark, out) == {0, 1}

    empty = str(tmp_path / "empty")
    dedup.build_fingerprint_index(_ingest_docs(spark, []), empty)
    batch = _ingest_docs(spark, [(5, "aa"), (6, "bb"), (7, "AA ")])
    assert _probe_ids(spark, empty, batch) == {5, 6, 7}


def test_built_index_seeds_the_ingest_and_rebuild_replaces_the_log(
    spark, tmp_path
):
    """One index format: a corpus indexed by build_fingerprint_index
    seeds the streaming ingest, which rejects that corpus's canons; a
    rebuild over a log holding takedowns and batch partitions leaves
    only the build's ``b = -1`` rows (the session's dynamic partition
    overwrite would have kept the others)."""
    import os

    from nyc_opendata_etl_spark.streaming import ingest

    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    dedup.build_fingerprint_index(_ingest_docs(spark, [(0, "aa"), (1, "bb")]), idx)
    batch = _ingest_docs(spark, [(5, "AA "), (6, "cc"), (7, "bb")])
    ingest.dedup_ingest_batch(batch, 0, idx, out)
    assert _accepted_ids(spark, out) == {6}

    dedup.delete_from_fingerprint_index(_ingest_docs(spark, [(0, "aa")]), idx)
    ingest.dedup_ingest_batch(_ingest_docs(spark, [(8, "dd")]), 1, idx, out)
    assert {r[2] for r in _log_rows(spark, idx)} == {
        dedup.COMPACTED_B, dedup.TAKEDOWN_B, 0, 1
    }
    dedup.build_fingerprint_index(_ingest_docs(spark, [(9, "ee")]), idx)
    assert [(cnt, b) for _, cnt, b in _log_rows(spark, idx)] == [
        (1, dedup.COMPACTED_B)
    ]
    parts = sorted(p for p in os.listdir(idx) if p.startswith("b="))
    assert parts == [f"b={dedup.COMPACTED_B}"]


def test_interrupted_compaction_leaves_the_old_log_serving(
    spark, tmp_path, monkeypatch
):
    """A compaction that dies after writing its ``__compact_tmp``
    sibling must leave the live log answering exactly as before, and
    a later compaction must succeed over the leftover tmp directory."""
    import os

    import pytest

    path = str(tmp_path / "fp")
    docs = _docs(spark)
    dedup.build_fingerprint_index(docs.filter(F.col("doc_id") <= 1), path)
    dedup.update_fingerprint_index(docs.filter(F.col("doc_id") >= 2), path)
    dedup.delete_from_fingerprint_index(docs.filter(F.col("doc_id") == 0), path)
    batch = spark.createDataFrame(
        [(10, DUP_TEXT), (11, DUP_TEXT + "!"), (12, "never seen before zzz")],
        "doc_id long, text string",
    )
    before_ids, before_rows = _probe_ids(spark, path, batch), _log_rows(spark, path)
    tmp = path + "__compact_tmp"
    swap = im._swap_dir

    def killed_after_tmp_write(live, rebuild):
        def rebuild_then_die(t):
            rebuild(t)
            assert os.path.isdir(t)
            raise RuntimeError("killed after writing the tmp relation")

        swap(live, rebuild_then_die)

    monkeypatch.setattr(im, "_swap_dir", killed_after_tmp_write)
    with pytest.raises(RuntimeError, match="killed"):
        im.compact_fingerprint_index(spark, path)
    assert os.path.isdir(tmp)
    assert _log_rows(spark, path) == before_rows
    assert _probe_ids(spark, path, batch) == before_ids == {12}

    monkeypatch.setattr(im, "_swap_dir", swap)
    im.compact_fingerprint_index(spark, path)
    assert not os.path.exists(tmp)
    assert all(b == dedup.COMPACTED_B for _, _, b in _log_rows(spark, path))
    assert _probe_ids(spark, path, batch) == before_ids


def test_stream_dedup_ingest_end_to_end(spark, tmp_path):
    """The real streaming wrapper over a file source in three ordered
    micro-batches: the accepted corpus must equal exact_dedup_groups'
    keep set (min doc id per canon), because batches arrive in doc-id
    order."""
    import os
    import time

    from nyc_opendata_etl_spark.streaming import ingest

    src = tmp_path / "src"
    src.mkdir()
    batches = [
        [(0, "quick brown fox"), (1, "Quick  Brown  Fox"), (2, "other text")],
        [(3, "quick brown fox"), (4, "third text")],
        [(5, "third text"), (6, "fourth text")],
    ]
    import pyarrow as pa
    import pyarrow.parquet as pq

    now = time.time()
    for i, rows in enumerate(batches):
        f = str(src / f"b{i}.parquet")
        tbl = pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
            }
        )
        pq.write_table(tbl, f)
        os.utime(f, (now + i, now + i))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    ingest.stream_dedup_ingest(
        stream, idx, out,
        query_name="ingest_test",
        checkpoint_location=str(tmp_path / "ckpt"),
    )
    from nyc_opendata_etl_spark.operators.dedup import exact_dedup_groups

    all_docs = _ingest_docs(spark, [r for b in batches for r in b])
    want = {
        r["keep_id"] for r in exact_dedup_groups(all_docs).collect()
    }
    assert _accepted_ids(spark, out) == want == {0, 2, 4, 6}


# ── streaming SCD2 upsert sink (versioned snapshots) ────────────────


def _dim(spark, rows):
    return spark.createDataFrame(
        rows, "k long, attr string, effective_from date, effective_to date, "
        "is_current boolean",
    )


def _upd(spark, rows):
    return spark.createDataFrame(rows, "k long, attr string, eff_date date")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_scd2_sink_matches_sequential_batch_merges(spark, tmp_path):
    import datetime as dt

    from nyc_opendata_etl_spark.operators.scd import scd2_merge
    from nyc_opendata_etl_spark.streaming import dim_sink

    d0 = dt.date(2024, 1, 1)
    dim = _dim(spark, [(1, "a", d0, None, True), (2, "b", d0, None, True)])
    b0 = _upd(spark, [(1, "a2", dt.date(2025, 1, 1))])  # change k=1
    b1 = _upd(spark, [(3, "c", dt.date(2025, 2, 1)),    # insert k=3
                      (2, "b", dt.date(2025, 2, 1))])   # no-op k=2
    path = str(tmp_path / "dim")
    dim_sink.init_scd2_dim(dim, path)
    dim_sink.scd2_upsert_batch(b0, 0, path, ["k"], ["attr"])
    dim_sink.scd2_upsert_batch(b1, 1, path, ["k"], ["attr"])
    got = _rows(dim_sink.read_scd2_dim(spark, path))
    want = _rows(
        scd2_merge(
            scd2_merge(dim, b0, natural_key=["k"], tracked=["attr"]),
            b1, natural_key=["k"], tracked=["attr"],
        )
    )
    assert got == want
    cur = {r[0]: r[1] for r in got if r[4]}
    assert cur == {1: "a2", 2: "b", 3: "c"}


def test_scd2_sink_replay_is_idempotent(spark, tmp_path):
    import datetime as dt

    from nyc_opendata_etl_spark.streaming import dim_sink

    dim = _dim(spark, [(1, "a", dt.date(2024, 1, 1), None, True)])
    b0 = _upd(spark, [(1, "a2", dt.date(2025, 1, 1))])
    path = str(tmp_path / "dim")
    dim_sink.init_scd2_dim(dim, path)
    dim_sink.scd2_upsert_batch(b0, 0, path, ["k"], ["attr"])
    before = _rows(dim_sink.read_scd2_dim(spark, path))
    # replay batch 0 after the pointer already advanced: the input is
    # pinned to the newest version BELOW 0 (the seed), so the update is
    # not double-applied (a pointer-following replay would close 'a2'
    # with another 'a2' open row)
    dim_sink.scd2_upsert_batch(b0, 0, path, ["k"], ["attr"])
    assert _rows(dim_sink.read_scd2_dim(spark, path)) == before
    assert sum(1 for r in before if r[1] == "a2") == 1


def test_scd2_sink_compacts_multiple_updates_per_key(spark, tmp_path):
    import datetime as dt

    from nyc_opendata_etl_spark.streaming import dim_sink

    dim = _dim(spark, [(1, "a", dt.date(2024, 1, 1), None, True)])
    b0 = _upd(
        spark,
        [(1, "mid", dt.date(2025, 1, 1)), (1, "late", dt.date(2025, 3, 1))],
    )
    path = str(tmp_path / "dim")
    dim_sink.init_scd2_dim(dim, path)
    dim_sink.scd2_upsert_batch(b0, 0, path, ["k"], ["attr"])
    rows = _rows(dim_sink.read_scd2_dim(spark, path))
    # only the latest same-batch version applies: one close + one open
    assert [(r[1], r[4]) for r in rows] == [("a", False), ("late", True)]


def test_scd2_sink_streaming_end_to_end_and_prune(spark, tmp_path):
    import datetime as dt
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from nyc_opendata_etl_spark.operators.scd import scd2_merge
    from nyc_opendata_etl_spark.streaming import dim_sink

    src = tmp_path / "cdc"
    src.mkdir()
    batches = [
        [(1, "a2", dt.date(2025, 1, 1))],
        [(2, "b2", dt.date(2025, 2, 1)), (3, "c", dt.date(2025, 2, 1))],
    ]
    now = time.time()
    for i, rows in enumerate(batches):
        tbl = pa.table(
            {
                "k": pa.array([r[0] for r in rows], pa.int64()),
                "attr": pa.array([r[1] for r in rows], pa.string()),
                "eff_date": pa.array([r[2] for r in rows], pa.date32()),
            }
        )
        f = str(src / f"b{i}.parquet")
        pq.write_table(tbl, f)
        os.utime(f, (now + i, now + i))
    d0 = dt.date(2024, 1, 1)
    dim = _dim(spark, [(1, "a", d0, None, True), (2, "b", d0, None, True)])
    path = str(tmp_path / "dim")
    dim_sink.init_scd2_dim(dim, path)
    stream = (
        spark.readStream.schema("k long, attr string, eff_date date")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    dim_sink.stream_scd2_upserts(
        stream, path, ["k"], ["attr"],
        query_name="scd2_test",
        checkpoint_location=str(tmp_path / "ckpt"),
    )
    want = _rows(
        scd2_merge(
            scd2_merge(
                dim, _upd(spark, batches[0]),
                natural_key=["k"], tracked=["attr"],
            ),
            _upd(spark, batches[1]), natural_key=["k"], tracked=["attr"],
        )
    )
    assert _rows(dim_sink.read_scd2_dim(spark, path)) == want
    dropped = dim_sink.prune_scd2_versions(path, keep_last=1)
    assert dropped and -1 in dropped
    assert _rows(dim_sink.read_scd2_dim(spark, path)) == want


# ── real video-container frame sampling (MPNG) ──────────────────────


def test_mpng_split_roundtrip_and_strictness():
    import pytest

    from nyc_opendata_etl_spark.operators import multimodal as mm

    frames = [mm.png_encode_gray((5 + 13 * k) % 251, 3, 2) for k in range(4)]
    payload = b"".join(frames)
    assert mm.mpng_split(payload) == frames
    assert mm.mpng_split(frames[0]) == [frames[0]]
    with pytest.raises(ValueError):
        mm.mpng_split(payload + b"junk")
    with pytest.raises(ValueError):
        mm.mpng_split(payload[:-5])  # truncated final frame


def test_sample_video_frames_decodes_closed_form(spark):
    from nyc_opendata_etl_spark.operators import multimodal as mm

    ids = [0, 1, 6, 7, 23, 102]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = mm.sample_video_frames(mm.synthesize_mpng_media(docs), every_n=2)
    got = {(r["media_id"], r["frame_idx"]): r.asDict() for r in out.collect()}
    for i in ids:
        seed, nf, w, h = i % 251, i % 8 + 1, i % 5 + 1, i % 4 + 1
        want_idx = list(range(0, nf, 2))
        assert sorted(k for m, k in got if m == i) == want_idx, i
        for k in want_idx:
            px = [(((seed + 13 * k) % 251) * 7 + j * 3) % 256 for j in range(w * h)]
            row = got[(i, k)]
            assert (
                row["n_frames"], row["width"], row["height"],
                row["pixel_sum"], row["px_min"], row["px_max"],
            ) == (nf, w, h, sum(px), min(px), max(px)), (i, k)


@settings(max_examples=25, deadline=None)
@given(
    seed=st.integers(0, 250),
    n=st.integers(1, 60),
    nch=st.integers(1, 3),
)
def test_wav_roundtrip_property(seed, n, nch):
    """encode∘decode identity for ANY (seed, frames, channels) — the
    modulus walks samples through the full int16 range including the
    -32768/32767 edges, so struct packing and the stdlib-wave read
    agree everywhere, not just at the synthesizer's defaults."""
    from nyc_opendata_etl_spark.operators import multimodal as mm

    got_nch, rate, samples = mm.wav_decode_pcm16(
        mm.wav_encode_pcm16(seed, n, n_channels=nch)
    )
    assert (got_nch, rate) == (nch, 8000)
    assert samples == [
        ((seed * 31 + k * 17) % 65536) - 32768 for k in range(n * nch)
    ]


@settings(max_examples=25, deadline=None)
@given(
    seed=st.integers(0, 250),
    nf=st.integers(1, 6),
    w=st.integers(1, 8),
    h=st.integers(1, 6),
)
def test_mpng_split_decode_property(seed, nf, w, h):
    """split∘concat identity and per-frame decode for ANY container
    geometry: every frame boundary is found by the chunk walk alone and
    every frame's pixels survive the zlib roundtrip."""
    from nyc_opendata_etl_spark.operators import multimodal as mm

    payload = mm.mpng_encode(seed, nf, w, h)
    frames = mm.mpng_split(payload)
    assert len(frames) == nf
    for k, frame in enumerate(frames):
        gw, gh, px = mm.png_decode_gray(frame)
        assert (gw, gh) == (w, h)
        assert px == [
            (((seed + 13 * k) % 251) * 7 + j * 3) % 256 for j in range(w * h)
        ]


def test_wav_spark_pipeline_decodes_from_bytes(spark):
    from nyc_opendata_etl_spark.operators import multimodal as mm

    ids = [0, 1, 7, 48, 49, 101]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    media = mm.synthesize_wav_media(docs)
    got = {
        r["media_id"]: r.asDict()
        for r in mm.extract_audio_features(media).collect()
    }
    assert set(got) == set(ids)
    for i in ids:
        want = _wav_closed_form(i)
        row = got[i]
        assert {k: row[k] for k in want} == want, i
