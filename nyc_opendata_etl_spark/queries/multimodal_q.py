"""Multimodal queries: synthesize a media table from ``documents``,
drive the Arrow/mapInPandas feature pipeline, and oracle-check the
deterministic feature math in DuckDB (payload = utf-8 prefix bytes, so
byte features are SQL-expressible)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_opendata_etl_spark.operators import multimodal
from nyc_opendata_etl_spark.queries import register
from nyc_opendata_etl_spark.sources.tables import load_table


@register(
    "multimodal_features",
    # The oracle replays the closed-form pixel content (pixel(i) =
    # (seed*7 + i*3) % 256) — Spark instead ENCODES real PNGs and
    # DECODES them back from the compressed bytes, so the value match
    # proves the decoder recovers every pixel (encode∘decode identity
    # on the stats), not just plumbing.
    oracle="""
    WITH m AS (
        SELECT doc_id AS media_id,
               doc_id % 251 AS seed,
               CAST(doc_id % 13 + 1 AS INT) AS width,
               CAST(doc_id % 11 + 1 AS INT) AS height
        FROM documents
    ),
    px AS (
        SELECT media_id,
               (seed * 7 + unnest(range(width * height)) * 3) % 256 AS v
        FROM m
    ),
    st AS (
        SELECT media_id,
               CAST(count(*) AS BIGINT) AS n_pixels,
               CAST(sum(v) AS BIGINT) AS pixel_sum,
               CAST(min(v) AS INT) AS px_min,
               CAST(max(v) AS INT) AS px_max
        FROM px GROUP BY media_id
    )
    SELECT m.media_id, m.width, m.height,
           st.n_pixels, st.pixel_sum, st.px_min, st.px_max
    FROM m JOIN st USING (media_id)
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode through the Arrow/mapInPandas kernel (round
    12 — retires the fake-byte-stats stub): synthesize_png_media builds
    valid 8-bit grayscale PNGs worker-side (stdlib zlib/struct, RFC
    2083), and extract_image_features recovers width/height/pixel
    statistics by parsing chunks, inflating IDAT, and undoing scanline
    filters — from the COMPRESSED BYTES, with no metadata columns to
    crib from. Pixel content is a closed form of the doc id, so the
    DuckDB oracle replays the decoded stats without a decoder; a full
    value match is an encode∘decode identity proof. Scale shape:
    embarrassingly parallel in the scan stage, blobs never leave the
    executors, only the 7 stat columns survive."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.synthesize_png_media(docs)
    return multimodal.extract_image_features(media)


@register(
    "multimodal_metadata_agg",
    oracle="""
    SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS kind,
           count(*) AS n,
           CAST(sum(length(text) % 640 + 1) AS BIGINT) AS total_width,
           CAST(max(length(text) % 30 + 1) AS INT) AS max_frames
    FROM documents
    GROUP BY 1
    """,
)
def q_multimodal_metadata_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only aggregation: stays fully columnar, payload column
    pruned from the scan entirely (the split-payload design's payoff)."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.synthesize_media(docs)
    return media.groupBy("kind").agg(
        F.count("*").alias("n"),
        F.sum("width").cast("long").alias("total_width"),
        F.max("n_frames").alias("max_frames"),
    )


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH videos AS (
        SELECT doc_id AS media_id,
               CAST(length(text) % 30 + 1 AS INT) AS n_frames,
               substr(text, 1, 64) AS prefix
        FROM documents WHERE doc_id % 3 = 2
    ),
    fan AS (
        SELECT media_id, prefix,
               unnest(range(0, greatest(n_frames - 1, 0) + 1, 5)) AS frame_idx
        FROM videos
    )
    SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
           hex(encode(substr(prefix, CAST(frame_idx AS INT) + 1, 8)))
               AS frame_hex
    FROM fan
    """,
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling over the synthesized media table (every 5th
    frame index, stub byte slice per frame). The fan-out, the sampled
    indices, and the sliced bytes are all deterministic functions of
    content, so the DuckDB oracle replays them exactly — the slice is
    emitted as hex so both engines hash identical values (upgraded from
    the earlier rows-only check). DuckDB substring is VARCHAR-only, so
    the oracle slices the text prefix before utf-8 encoding; the
    documents corpus is ASCII (verified: length == octet_length for
    every row), making that byte-identical to Spark's payload slice."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.synthesize_media(docs)
    frames = multimodal.sample_frames(media)
    return frames.select(
        "media_id",
        "frame_idx",
        F.hex("frame_payload").alias("frame_hex"),
    )


@register(
    "multimodal_image_neardup",
    # the oracle replays the whole protocol from png_encode_gray's
    # closed-form pixels: 8x8 nearest-neighbor grid sample, integer
    # at-or-above-mean bits (v*64 >= sum - no float boundary), simhash
    # bit packing (bit 63 via its two's-complement value), min-id rep
    # collapse, 4x16-bit banding, XOR popcount verify. HUGEINT hazard:
    # the packed-bit sum casts back to BIGINT (registry-lint rule).
    oracle="""
    WITH m AS (
        SELECT doc_id AS media_id, doc_id % 251 AS seed,
               CAST(doc_id % 13 + 1 AS BIGINT) AS w,
               CAST(doc_id % 11 + 1 AS BIGINT) AS h
        FROM documents
    ),
    cell AS (
        SELECT media_id, seed, w, h, unnest(range(64)) AS j FROM m
    ),
    v AS (
        SELECT media_id, j,
               (seed * 7
                + 3 * (((j // 8) * h // 8) * w + ((j % 8) * w // 8))) % 256
                   AS val
        FROM cell
    ),
    s AS (SELECT media_id, sum(val) AS sv FROM v GROUP BY 1),
    hh AS (
        SELECT v.media_id,
               CAST(sum(CASE WHEN v.val * 64 >= s.sv THEN
                        CASE WHEN v.j = 63
                             THEN CAST(-9223372036854775807 - 1 AS BIGINT)
                             ELSE (CAST(1 AS BIGINT) << CAST(v.j AS INT)) END
                        ELSE 0 END) AS BIGINT) AS ahash
        FROM v JOIN s USING (media_id) GROUP BY 1
    ),
    reps AS (SELECT ahash, min(media_id) AS id FROM hh GROUP BY 1),
    bands AS (
        SELECT id, ahash, k.band_idx,
               (ahash >> (k.band_idx * 16)) & 65535 AS band_bits
        FROM reps
        CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band_idx) k
    ),
    cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b,
               a.ahash AS ha, b.ahash AS hb
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_bits = b.band_bits
         AND a.id < b.id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= 3
    """,
)
def q_multimodal_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup pairs (r13) — the MULTIMODAL
    member of the dedup family, closing the granularity matrix's image
    axis the way MinHash/SimHash close text: real PNG decode feeds a
    64-bit average-hash in the scan-stage Arrow kernel (only 24 bytes
    per image leave Python — operators/multimodal.image_ahash), then
    hash-identical images collapse to min-id reps and pairs come from
    16-bit BAND buckets with an XOR-popcount verify at Hamming <= 3 —
    pigeonhole-EXACT recall (4 bands > 3 bits), unlike the
    probabilistic MinHash bands. Production swap-in: PIL/libvips
    resample in the kernel; everything downstream is unchanged. The
    oracle replays decode-grid-mean-pack-band-verify end to end from
    the closed-form pixels, so a value match proves the real decoder,
    the integer hash, AND the banded search."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.synthesize_png_media(docs)
    hashes = multimodal.image_ahash(media)
    return multimodal.ahash_near_dup_pairs(hashes, max_hamming=3, bands=4)


@register(
    "multimodal_image_clusters",
    # the multimodal_image_neardup oracle's hash/band/verify CTEs
    # composed with the dedup_clusters recursive-closure pattern, plus
    # the identical-hash membership expand — every fragment already
    # value-proven by its own oracle.
    oracle="""
    WITH RECURSIVE m AS (
        SELECT doc_id AS media_id, doc_id % 251 AS seed,
               CAST(doc_id % 13 + 1 AS BIGINT) AS w,
               CAST(doc_id % 11 + 1 AS BIGINT) AS h
        FROM documents
    ),
    cell AS (
        SELECT media_id, seed, w, h, unnest(range(64)) AS j FROM m
    ),
    v AS (
        SELECT media_id, j,
               (seed * 7
                + 3 * (((j // 8) * h // 8) * w + ((j % 8) * w // 8))) % 256
                   AS val
        FROM cell
    ),
    s AS (SELECT media_id, sum(val) AS sv FROM v GROUP BY 1),
    hh AS (
        SELECT v.media_id,
               CAST(sum(CASE WHEN v.val * 64 >= s.sv THEN
                        CASE WHEN v.j = 63
                             THEN CAST(-9223372036854775807 - 1 AS BIGINT)
                             ELSE (CAST(1 AS BIGINT) << CAST(v.j AS INT)) END
                        ELSE 0 END) AS BIGINT) AS ahash
        FROM v JOIN s USING (media_id) GROUP BY 1
    ),
    reps AS (
        SELECT ahash, min(media_id) AS rep,
               CAST(count(*) AS BIGINT) AS n_images
        FROM hh GROUP BY 1
    ),
    bands AS (
        SELECT rep AS id, ahash, k.band_idx,
               (ahash >> (k.band_idx * 16)) & 65535 AS band_bits
        FROM reps
        CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band_idx) k
    ),
    pairs AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_bits = b.band_bits
         AND a.id < b.id
        WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    cl AS (
        SELECT src AS rep, least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src
    ),
    memb AS (
        SELECT h.media_id, r.rep, r.n_images
        FROM hh h JOIN reps r USING (ahash)
    )
    SELECT memb.media_id,
           COALESCE(cl.cluster_id, memb.rep) AS cluster_id
    FROM memb LEFT JOIN cl USING (rep)
    WHERE cl.cluster_id IS NOT NULL OR memb.n_images >= 2
    """,
)
def q_multimodal_image_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-level perceptual-dup CLUSTERS (r13) — the action step
    after multimodal_image_neardup, mirroring dedup_clusters for text:
    connected components (O(log n)-round large-star/small-star kernel)
    over the aHash rep graph, expanded back to every member image via
    the identical-hash membership join. Output (media_id, cluster_id =
    min member id) for every image in a dup relation; the keep-list /
    keep-best policies downstream are the text family's, unchanged.
    The oracle composes the image hash/band/verify replay with the
    recursive-CTE closure and the membership expand, so a value match
    proves the decode, the banding, the CC kernel, AND the expand in
    one differential check."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.synthesize_png_media(docs)
    hashes = multimodal.image_ahash(media)
    return multimodal.ahash_clusters(hashes)


@register(
    "multimodal_audio_features",
    # the oracle replays the closed-form interleaved samples
    # (((seed*31 + i*17) % 65536) - 32768) — Spark instead ENCODES real
    # RIFF/PCM16 WAVs and DECODES them back with the stdlib wave
    # reader, so a full value match is an encode∘decode identity proof
    # (the multimodal_features pattern, audio edition).
    oracle="""
    WITH m AS (
        SELECT doc_id AS media_id,
               doc_id % 251 AS seed,
               CAST(doc_id % 2 + 1 AS INT) AS n_channels,
               doc_id % 50 + 1 AS n
        FROM documents
    ),
    s AS (
        SELECT media_id,
               ((seed * 31 + unnest(range(n * n_channels)) * 17) % 65536)
                   - 32768 AS v
        FROM m
    ),
    st AS (
        SELECT media_id,
               CAST(sum(v) AS BIGINT) AS sample_sum,
               CAST(min(v) AS INT) AS s_min,
               CAST(max(v) AS INT) AS s_max
        FROM s GROUP BY media_id
    )
    SELECT m.media_id, m.n_channels,
           CAST(8000 AS INT) AS sample_rate,
           CAST(m.n AS BIGINT) AS n_samples,
           CAST(m.n * 1000 // 8000 AS BIGINT) AS duration_ms,
           st.sample_sum, st.s_min, st.s_max
    FROM m JOIN st USING (media_id)
    """,
)
def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode through the Arrow/mapInPandas kernel:
    synthesize_wav_media builds valid RIFF/WAVE PCM16 payloads
    worker-side (hand-packed header, closed-form samples) and
    extract_audio_features recovers channel count / rate / sample stats
    via the stdlib ``wave`` reader — encoder and decoder share no code.
    Scale shape: scan-stage parallel, no shuffle, blobs never leave the
    executors; 500k WAVs encode+decode in 11.9 s at the 100× replica
    (SCALE_SWEEP_100X_r12)."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.extract_audio_features(multimodal.synthesize_wav_media(docs))


@register(
    "multimodal_video_frames",
    # frame k of container id replays png_encode_gray's closed form at
    # seed (id%251 + 13k) % 251; only every 2nd frame is sampled.
    oracle="""
    WITH m AS (
        SELECT doc_id AS media_id,
               doc_id % 251 AS seed,
               CAST(doc_id % 8 + 1 AS INT) AS nf,
               CAST(doc_id % 5 + 1 AS INT) AS w,
               CAST(doc_id % 4 + 1 AS INT) AS h
        FROM documents
    ),
    fan AS (
        SELECT media_id, nf, w, h, seed, unnest(range(0, nf, 2)) AS k
        FROM m
    ),
    px AS (
        SELECT media_id, k,
               (((seed + 13 * k) % 251) * 7 + unnest(range(w * h)) * 3) % 256
                   AS v
        FROM fan
    ),
    st AS (
        SELECT media_id, k,
               CAST(sum(v) AS BIGINT) AS pixel_sum,
               CAST(min(v) AS INT) AS px_min,
               CAST(max(v) AS INT) AS px_max
        FROM px GROUP BY media_id, k
    )
    SELECT f.media_id, f.nf AS n_frames, CAST(f.k AS INT) AS frame_idx,
           f.w AS width, f.h AS height,
           st.pixel_sum, st.px_min, st.px_max
    FROM fan f JOIN st ON st.media_id = f.media_id AND st.k = f.k
    """,
)
def q_multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container frame sampling: synthesize_mpng_media packs
    1–8 valid PNG frames per doc into one binary payload;
    sample_video_frames parses frame boundaries by chunk-walking to
    IEND and decodes ONLY every 2nd frame — inflate work scales with
    sampled frames, not container bytes (the keyframe-seek shape).
    One row per sampled frame with decoded pixel statistics; the
    closed-form oracle makes the value match an encode∘split∘decode
    identity proof. 100×: 500k containers → 1.25M frame rows in
    33.9 s (SCALE_SWEEP_100X_r12)."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.sample_video_frames(
        multimodal.synthesize_mpng_media(docs), every_n=2
    )
