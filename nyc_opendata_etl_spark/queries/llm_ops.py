"""LLM-training-data pipeline queries (BASELINE.json north star):
deduplication, similarity search, text analysis over ``documents`` /
``embeddings``. Deterministic md5-based hashing throughout, so most have
full DuckDB oracles; genuinely approximate/structural ops are rows-only.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_opendata_etl_spark.functions.hashing import md5_long, md5_long_oracle_sql
from nyc_opendata_etl_spark.operators import dedup, similarity, text
from nyc_opendata_etl_spark.queries import register
from nyc_opendata_etl_spark.queries._sql import PY_WS_RE2
from nyc_opendata_etl_spark.sources.batch_log import current_dir, must_read_log
from nyc_opendata_etl_spark.sources.tables import load_table

# canonical text form used by dedup ops, as DuckDB SQL
_WS = "[" + PY_WS_RE2 + "]+"
_WS_CHARS = PY_WS_RE2
_CANON = (
    f"regexp_replace(regexp_replace(lower(text),"
    f" '^[{PY_WS_RE2}]+|[{PY_WS_RE2}]+$', '', 'g'), '{_WS}', ' ', 'g')"
)


def _stage_text_index(spark: SparkSession, sf_dir: str) -> str:
    """Build the documents posting-list index once per corpus version
    (sources/staging mtime guard); retrieval queries probe it instead of
    tokenizing the corpus per execution. The build commits the whole
    index as one version of the root, so the committed stats/ marker
    proves the whole build completed."""
    from nyc_opendata_etl_spark.sources.staging import is_stale, stage_dir

    path = stage_dir(sf_dir, "text_index")
    if is_stale(current_dir(path), sf_dir, "documents", marker="stats/_SUCCESS"):
        docs = load_table(spark, sf_dir, "documents")
        text.build_text_index(docs, path)
    return path


def _stage_text_index_incremental(spark: SparkSession, sf_dir: str) -> str:
    """Stage the posting-list index by INCREMENTAL construction: build
    from the even-doc_id half of the corpus, then update_text_index the
    odd half — exercising the append/merge maintenance path end to end.
    A probe over this index must equal one over a from-scratch build
    (same corpus), which the search_bm25_incremental oracle verifies
    against the raw documents."""
    from nyc_opendata_etl_spark.sources.staging import is_stale, mark_done, stage_dir

    path = stage_dir(sf_dir, "text_index_incr")
    if is_stale(path, sf_dir, "documents", marker="_INCR_DONE"):
        docs = load_table(spark, sf_dir, "documents")
        text.build_text_index(docs.filter(F.col("doc_id") % 2 == 0), path)
        text.update_text_index(
            spark, docs.filter(F.col("doc_id") % 2 == 1), path
        )
        mark_done(path, "_INCR_DONE")
    return path


def _stage_fingerprint_index(spark: SparkSession, sf_dir: str) -> str:
    """Stage the historical corpus's content-fingerprint index (even
    doc_ids — the corpus half of the dedup_incremental scenario) once
    per corpus version. Built incrementally to exercise the append
    maintenance path: base build from doc_id % 4 == 0, then
    update_fingerprint_index appends doc_id % 4 == 2 — together exactly
    the even half. _LOG_DONE is written last, proving both phases
    completed."""
    from nyc_opendata_etl_spark.sources.staging import is_stale, mark_done, stage_dir

    path = stage_dir(sf_dir, "fingerprint_index")
    if is_stale(path, sf_dir, "documents", marker="_LOG_DONE"):
        docs = load_table(spark, sf_dir, "documents")
        dedup.build_fingerprint_index(docs.filter(F.col("doc_id") % 4 == 0), path)
        dedup.update_fingerprint_index(docs.filter(F.col("doc_id") % 4 == 2), path)
        mark_done(path, "_LOG_DONE")
    return path


def _stage_lsh_index(spark: SparkSession, sf_dir: str) -> str:
    """Stage the historical corpus's LSH band-bucket index (even
    doc_ids — the corpus half of the incremental near-dup scenario)
    once per corpus version: the near-dup twin of
    _stage_fingerprint_index, and like it built INCREMENTALLY to
    exercise the append maintenance path: base build from
    doc_id % 4 == 0 (with params/, the r12 self-describing
    (num_hashes, bands) record), then update_lsh_bucket_index appends
    doc_id % 4 == 2 — together exactly the even half, so the
    dedup_incremental_minhash oracle (which recomputes the even-corpus
    side from raw documents) doubles as the append-equivalence proof.
    _INCR_DONE is written last, proving both phases completed."""
    from nyc_opendata_etl_spark.sources.staging import is_stale, mark_done, stage_dir

    path = stage_dir(sf_dir, "lsh_bucket_index")
    if is_stale(path, sf_dir, "documents", marker="_INCR_DONE"):
        docs = load_table(spark, sf_dir, "documents")
        dedup.build_lsh_bucket_index(docs.filter(F.col("doc_id") % 4 == 0), path)
        dedup.update_lsh_bucket_index(
            docs.filter(F.col("doc_id") % 4 == 2), path
        )
        mark_done(path, "_INCR_DONE")
    return path


def _stage_ivfpq_index(spark: SparkSession, sf_dir: str) -> str:
    """Build the IVF-PQ index once per embeddings version; the ANN query
    probes the persisted cells. The build commits the whole index as
    one version of the root, so the committed params/ marker (r11
    layout — the self-describing parameter record) proves the whole
    build completed."""
    from nyc_opendata_etl_spark.sources.staging import is_stale, stage_dir

    path = stage_dir(sf_dir, "ivfpq_index")
    if is_stale(current_dir(path), sf_dir, "embeddings", marker="params/_SUCCESS"):
        emb = load_table(spark, sf_dir, "embeddings")
        similarity.build_ivfpq_index(emb, path)
    return path


def _stage_ivfpq_index_incremental(spark: SparkSession, sf_dir: str) -> str:
    """Stage the IVF-PQ index by INCREMENTAL construction: build from
    the even-vec_id half of the embeddings, then update_ivfpq_index the
    odd half — the append/route/encode maintenance path end to end,
    mirroring _stage_text_index_incremental. The quantizers (centroids,
    codebook) come from the BUILD half only (vec_id < 16 among evens ⇒
    8 cells, 8 codes) and the update reuses them without retraining —
    exactly the FAISS add() contract — so the staged index equals a
    one-shot assignment of the FULL corpus against the build-half
    quantizers, which is what the oracle replays. _INCR_DONE is written
    last, proving both phases completed."""
    from nyc_opendata_etl_spark.sources.staging import is_stale, mark_done, stage_dir

    path = stage_dir(sf_dir, "ivfpq_index_incr")
    if is_stale(path, sf_dir, "embeddings", marker="_INCR_DONE"):
        emb = load_table(spark, sf_dir, "embeddings")
        similarity.build_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 0), path)
        similarity.update_ivfpq_index(
            emb.filter(F.col("vec_id") % 2 == 1), path
        )
        mark_done(path, "_INCR_DONE")
    return path


@register(
    "dedup_exact",
    oracle=f"""
    SELECT {md5_long_oracle_sql(_CANON)} AS content_hash,
           min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    return dedup.exact_dedup_groups(docs)


# Deterministic synthetic URL per document (the testdata carries no URL
# column): source → host, doc_id % 50 → page slot, with WWW./tracking-
# param/fragment/trailing-slash variants sprinkled by doc_id residues so
# syntactically different URLs collapse under normalization. Spark
# expression and DuckDB fragment are the same concatenation — the URL
# column is INPUT to the checked operators, so both engines must
# synthesize it identically.
_URL_SYNTH_SQL = """
    'https://'
    || CASE WHEN doc_id % 7 = 0 THEN 'WWW.' ELSE '' END
    || source || '.example.com/p/' || CAST(doc_id % 50 AS VARCHAR)
    || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
    || CASE WHEN doc_id % 3 = 0
            THEN '?utm_source=feed&utm_id=' || CAST(doc_id % 50 AS VARCHAR)
            ELSE '' END
    || CASE WHEN doc_id % 11 = 0 THEN '#sec2' ELSE '' END
"""


def _synth_url() -> F.Column:
    k = (F.col("doc_id") % 50).cast("string")
    blank = F.lit("")
    return F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("WWW.")).otherwise(blank),
        F.col("source"),
        F.lit(".example.com/p/"),
        k,
        F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(blank),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("?utm_source=feed&utm_id="), k),
        ).otherwise(blank),
        F.when(F.col("doc_id") % 11 == 0, F.lit("#sec2")).otherwise(blank),
    )


@register(
    "dedup_url_normalized",
    oracle=f"""
    WITH pages AS (SELECT doc_id, {_URL_SYNTH_SQL} AS url FROM documents)
    SELECT {dedup.NORMALIZE_URL_ORACLE.format(u="url")} AS norm_url,
           min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM pages
    GROUP BY 1
    """,
)
def q_dedup_url_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup — the crawl-granularity the doc/passage/semantic
    families don't cover: the same page refetched under case, ``www.``,
    ``utm_*`` tracking, fragment, and trailing-slash variants collapses
    to one canonical URL (keep first-seen id + copy count). Pure
    expression normalization + one map-side-combined hash aggregate;
    shuffle volume is O(distinct URLs) however duplicated the crawl."""
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    pages = docs.select("doc_id", _synth_url().alias("url"))
    return dedup.url_dedup_groups(pages)


@register(
    "dedup_host_profile",
    oracle=f"""
    WITH pages AS (
        SELECT doc_id, text, {_URL_SYNTH_SQL} AS url FROM documents
    ),
    keyed AS (
        SELECT {dedup.URL_HOST_ORACLE.format(
            u=dedup.NORMALIZE_URL_ORACLE.format(u="url")
        )} AS host,
               {dedup.NORMALIZE_URL_ORACLE.format(u="url")} AS norm_url,
               {md5_long_oracle_sql(_CANON)} AS content_hash
        FROM pages
    )
    SELECT host,
           count(*) AS n_pages,
           count(DISTINCT norm_url) AS n_urls,
           count(DISTINCT content_hash) AS n_distinct_texts,
           round(1.0 - count(DISTINCT content_hash)
                       / CAST(count(*) AS DOUBLE), 6) AS text_dup_ratio
    FROM keyed
    GROUP BY host
    """,
)
def q_dedup_host_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level duplication profile — boilerplate-farm detection: per
    host, page/URL/distinct-text counts and the text-duplication ratio
    a host-gating policy thresholds. Exact distincts ride Spark's
    two-phase distinct expansion (partial agg on (host, value) first),
    so a mega-host exchanges its distinct values, not its page count."""
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    pages = docs.select("doc_id", "text", _synth_url().alias("url"))
    return dedup.host_dup_stats(pages)


@register(
    "corpus_host_gate",
    oracle=f"""
    WITH pages AS (
        SELECT doc_id, text, {_URL_SYNTH_SQL} AS url FROM documents
    ),
    keyed AS (
        SELECT doc_id,
               {dedup.URL_HOST_ORACLE.format(
                   u=dedup.NORMALIZE_URL_ORACLE.format(u="url")
               )} AS host,
               {md5_long_oracle_sql(_CANON)} AS content_hash
        FROM pages
    ),
    stats AS (
        SELECT host, count(*) AS n_pages,
               count(DISTINCT content_hash) AS n_distinct_texts
        FROM keyed GROUP BY host
    ),
    good AS (
        SELECT host FROM stats
        WHERE (n_pages - n_distinct_texts) * 20 < n_pages
    )
    SELECT k.doc_id, k.host
    FROM keyed k
    WHERE k.host IN (SELECT host FROM good)
    """,
)
def q_corpus_host_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-gated corpus realize — the action step after
    dedup_host_profile: drop every page served by a host whose
    text-duplication exceeds the farm threshold (here: duplicate pages
    ≥ 5% of the host's pages, expressed in INTEGER arithmetic —
    ``dup_count * 20 < n_pages`` — so Spark and the oracle agree
    exactly with no float boundary). Scale shape: the profile
    aggregates to |hosts| rows, the gate filters that tiny relation,
    and the realize is a BROADCAST left-semi join onto the page scan —
    no shuffle of the corpus, the standard dim-gate pattern at
    100 TB."""
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    pages = docs.select(
        "doc_id",
        dedup.url_host(dedup.normalize_url(_synth_url())).alias("host"),
        text.fingerprint("text").alias("content_hash"),
    )
    stats = pages.groupBy("host").agg(
        F.count("*").alias("n_pages"),
        F.count_distinct("content_hash").alias("n_distinct_texts"),
    )
    good = stats.filter(
        (F.col("n_pages") - F.col("n_distinct_texts")) * 20 < F.col("n_pages")
    ).select("host")
    return pages.join(F.broadcast(good), "host", "left_semi").select(
        "doc_id", "host"
    )


@register(
    "dedup_fingerprint",
    oracle=f"""
    SELECT doc_id, {md5_long_oracle_sql(_CANON)} AS fingerprint
    FROM documents
    """,
)
def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    return docs.select("doc_id", text.fingerprint("text").alias("fingerprint"))


_JACCARD_SQL = f"""
    WITH sh AS (
        SELECT doc_id AS id,
               unnest(list_distinct([
                   array_to_string(toks[i:i+2], ' ')
                   FOR i IN range(1, len(toks) - 1)
               ])) AS shingle
        FROM (SELECT doc_id, string_split({_CANON}, ' ') AS toks FROM documents)
        WHERE len(toks) >= 3
    ),
    sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6)
               AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE round(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6)
          >= 0.8
"""


# collapsed variant for the standalone pair query: byte-identical
# canonical texts reduce to one min-id representative before pairing
# (the exact-dedup-first ordering; identical-copy pairs are
# dedup_exact's output, and without the collapse a g-copy group makes
# the shared-shingle candidate join quadratic in g). The cluster /
# keep-best oracles keep the UNCOLLAPSED pair definition because their
# outputs enumerate every member.
_JACCARD_COLLAPSED_SQL = f"""
    WITH reps AS (
        SELECT {_CANON} AS canon, min(doc_id) AS id
        FROM documents GROUP BY 1
    ),
    sh AS (
        SELECT id,
               unnest(list_distinct([
                   array_to_string(toks[i:i+2], ' ')
                   FOR i IN range(1, len(toks) - 1)
               ])) AS shingle
        FROM (SELECT id, string_split(canon, ' ') AS toks FROM reps)
        WHERE len(toks) >= 3
    ),
    sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6)
               AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE round(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6)
          >= 0.8
"""


@register("dedup_ngram_jaccard", oracle=_JACCARD_COLLAPSED_SQL)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard ≥ 0.8 near-dup pairs via inverted index,
    after collapsing byte-identical canonical texts to one min-id
    representative (exact-dedup-first: identical-copy pairs belong to
    dedup_exact, and collapsing keeps the prefix-filter candidate join
    linear in duplicate-group size — BASELINE.md round-7 100× table)."""
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    return dedup.ngram_jaccard_pairs(docs, threshold=0.8, collapse_exact=True)


def _minhash_lsh_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    """DuckDB replay of the PORTABLE MinHash+LSH pipeline
    (operators/dedup.minhash_signatures/minhash_lsh_pairs with
    portable=True): same shingles, same md5-fold base hash, same affine
    permutations mod the Mersenne prime, same md5 band-bucket keys —
    the candidate pairs match value-for-value. Built on the SAME CTE
    generator as the incremental oracle (_minhash_banded_ctes), so the
    correctness-critical replay SQL exists exactly once — mirroring
    how the Spark side shares lsh_banded_buckets."""
    return f"""
    WITH {_minhash_banded_ctes("all", "TRUE", num_hashes, bands)}
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM banded_all a JOIN banded_all b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
     AND a.id < b.id
    """


def _minhash_banded_ctes(
    prefix: str, pred: str, num_hashes: int = 16, bands: int = 4
) -> str:
    """CTE chain ``reps_P → sh_P → hashed_P → sig_P → banded_P`` for
    the portable MinHash banding of the documents subset matching
    ``pred`` — shared by the incremental near-dup oracle's corpus and
    batch sides."""
    from nyc_opendata_etl_spark.operators.dedup import MINHASH_P, _affine

    rows = num_hashes // bands
    mins = ",\n               ".join(
        f"min(({a} * h + {b}) % {MINHASH_P}) AS m{i}"
        for i, (a, b) in ((i, _affine(i)) for i in range(num_hashes))
    )
    band_selects = []
    for b in range(bands):
        concat = ", ".join(
            f"CAST(m{b * rows + r} AS VARCHAR)" for r in range(rows)
        )
        bucket = md5_long_oracle_sql("concat_ws('|', " + concat + ")")
        band_selects.append(
            f"SELECT id, {b} AS band_idx, {bucket} AS band_hash"
            f" FROM sig_{prefix}"
        )
    bands_sql = "\n        UNION ALL\n        ".join(band_selects)
    return f"""
    reps_{prefix} AS (
        SELECT {_CANON} AS canon, min(doc_id) AS id
        FROM documents WHERE {pred} GROUP BY 1
    ),
    sh_{prefix} AS (
        SELECT DISTINCT id,
               unnest(list_distinct([
                   array_to_string(toks[i:i+2], ' ')
                   FOR i IN range(1, len(toks) - 1)
               ])) AS shingle
        FROM (SELECT id, string_split(canon, ' ') AS toks FROM reps_{prefix})
        WHERE len(toks) >= 3
    ),
    hashed_{prefix} AS (
        SELECT id, {md5_long_oracle_sql('shingle')} AS h FROM sh_{prefix}
    ),
    sig_{prefix} AS (
        SELECT id,
               {mins}
        FROM hashed_{prefix} GROUP BY id
    ),
    banded_{prefix} AS (
        {bands_sql}
    )"""


@register(
    "dedup_incremental_minhash",
    oracle=f"""
    WITH {_minhash_banded_ctes("c", "doc_id % 2 = 0")},
    {_minhash_banded_ctes("b", "doc_id % 2 = 1")}
    SELECT n.id AS doc_id, min(o.id) AS corpus_match
    FROM banded_b n JOIN banded_c o
      ON n.band_idx = o.band_idx AND n.band_hash = o.band_hash
    GROUP BY n.id
    """,
)
def q_dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup detection: the new batch (odd doc_ids)
    probed against the historical corpus's STAGED LSH band-bucket
    index (even doc_ids) — the MinHash twin of dedup_incremental's
    fingerprint index. The plan shingles/signatures ONLY the batch;
    the corpus side streams prebuilt (corpus_id, band_idx, band_hash)
    rows from parquet, so an increment costs O(new docs) at any corpus
    size — the production shape for "is tonight's crawl already in
    the training set, modulo near-duplication". Output: each colliding
    batch rep with its smallest matching corpus rep. The oracle
    recomputes BOTH sides from raw documents (portable md5-affine
    family), so a full value match verifies the staged index contents,
    the banding, and the probe join."""
    index_path = _stage_lsh_index(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    return dedup.incremental_near_dups(batch, index_path)


@register("dedup_minhash_lsh", oracle=_minhash_lsh_oracle())
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)+LSH(4 bands) candidate pairs over byte-identical-
    canonical-text REPRESENTATIVES, portable hash family: the signature
    permutations are affine maps over the md5 fold and the band buckets
    are md5 keys, so the ENTIRE pipeline — collapse, shingling,
    permutation mins, banding, the bucket self-join — is replayed
    value-for-value by the DuckDB oracle (recall quality is pinned
    separately in tests/test_approx_quality.py). Collapse-first is the
    dedup-family law (dedup_ngram_jaccard / dedup_containment):
    identical copies share every band, so a g-copy group otherwise
    emits C(g,2) pairs per band — the 100× replica emitted 44.6M pairs
    where the collapsed output is the same rep-pair set at any copy
    count; identical-copy enumeration belongs to dedup_exact."""
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    return dedup.minhash_lsh_pairs(docs, portable=True, collapse_exact=True)


def _simhash_oracle() -> str:
    """DuckDB replay of the portable 64-bit SimHash: bit j of a token's
    hash is nibble j//4, bit j%4 of md5(token); votes sum +1/-1; the
    packed signature adds disjoint bit masks (bit 63 as the int64 sign
    contribution, matching two's-complement OR)."""
    nib = (
        "(strpos('0123456789abcdef',"
        " substr(md5(tok), {c} + 1, 1)) - 1)"
    )
    votes = ",\n               ".join(
        "sum(CASE WHEN ({nib} & {bit}) <> 0 THEN 1 ELSE -1 END) AS v{j}".format(
            nib=nib.format(c=j // 4), bit=1 << (j % 4), j=j
        )
        for j in range(64)
    )
    masks = " + ".join(
        f"CASE WHEN v{j} >= 0 THEN CAST({(1 << j) if j < 63 else -(1 << 63)} AS BIGINT) ELSE 0 END"
        for j in range(64)
    )
    # same token multiset as the Spark side's canon_text split (_TOK is
    # defined later in this module; inline the construction here)
    tok_expr = (
        f"list_filter(regexp_split_to_array(lower(text), '{_WS}'), x -> x <> '')"
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest({tok_expr}) AS tok FROM documents
    ),
    votes AS (
        SELECT doc_id,
               {votes}
        FROM toks GROUP BY doc_id
    )
    SELECT doc_id, CAST({masks} AS BIGINT) AS simhash FROM votes
    """


@register("dedup_simhash", oracle=_simhash_oracle())
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash signatures, portable bits (md5 hex nibbles): the
    full vote-and-pack computation is replayed by the DuckDB oracle —
    upgraded from the earlier rows-only check."""
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    return dedup.simhash_signatures(docs, portable=True)


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------

# cosine(a, b) in DuckDB double math — twin of operators/similarity.cosine
def _cos_sql(a: str, b: str) -> str:
    # nullif guard mirrors operators/similarity.cosine (zero-norm →
    # NULL, never NaN-ranks-first)
    return (
        f"list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
        f" / nullif(sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
        f" * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))), 0)"
    )


@register(
    "similarity_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           round({_cos_sql('e.embedding', 'q.q_vec')}, 6) AS cosine_sim
    FROM embeddings e, q
    WHERE vec_id <> 0
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 10
    """,
)
def q_similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-10 neighbors of vec_id 0."""
    emb = load_table(spark, sf_dir, "embeddings", spread_input=True)
    return similarity.cosine_topk(emb, query_vec_id=0, k=10)


@register(
    "similarity_ann_lsh",
    # approximate in RECALL, but fully deterministic given the fixed
    # hyperplanes — so the oracle replays the identical bucketing:
    # bit i = (v[2i] - v[2i+1] >= 0), bucket = packed bits.
    oracle=f"""
    WITH b AS (
        SELECT vec_id, embedding,
               (CASE WHEN CAST(embedding[1] AS DOUBLE) - CAST(embedding[2] AS DOUBLE) >= 0 THEN 1 ELSE 0 END)
             + (CASE WHEN CAST(embedding[3] AS DOUBLE) - CAST(embedding[4] AS DOUBLE) >= 0 THEN 2 ELSE 0 END)
             + (CASE WHEN CAST(embedding[5] AS DOUBLE) - CAST(embedding[6] AS DOUBLE) >= 0 THEN 4 ELSE 0 END)
             + (CASE WHEN CAST(embedding[7] AS DOUBLE) - CAST(embedding[8] AS DOUBLE) >= 0 THEN 8 ELSE 0 END)
               AS bucket
        FROM embeddings
    ),
    q AS (SELECT embedding AS q_vec, bucket AS q_bucket FROM b WHERE vec_id = 0)
    SELECT vec_id,
           round({_cos_sql('b.embedding', 'q.q_vec')}, 6) AS cosine_sim
    FROM b, q
    WHERE b.bucket = q.q_bucket AND vec_id <> 0
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 10
    """,
)
def q_similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH buckets (deterministic fixed planes:
    coordinate pairs), exact re-rank within the query's bucket. The
    bucketing is deterministic, so the oracle replays it exactly —
    the differential check covers the bucket math AND the re-rank."""
    emb = load_table(spark, sf_dir, "embeddings", spread_input=True)
    planes = []
    for i in range(4):
        plane = [0.0] * 64
        plane[i * 2] = 1.0
        plane[i * 2 + 1] = -1.0
        planes.append(plane)
    return similarity.ann_lsh_topk(emb, query_vec_id=0, hyperplanes=planes, k=10)


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------

@register(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len(list_filter(regexp_split_to_array(text, '{_WS}'),
                                x -> x <> '')) AS INT) AS n_tokens,
           CAST(len(regexp_extract_all(text,
                    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9{_WS_CHARS}]')) AS INT)
               AS n_bpe_ish_tokens,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
    """,
)
def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    return docs.select(
        "doc_id",
        text.token_count("text").alias("n_tokens"),
        text.bpe_ish_token_count("text").alias("n_bpe_ish_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


@register(
    "text_quality",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, text,
               list_filter(regexp_split_to_array(text, '{_WS}'), x -> x <> '')
                   AS toks
        FROM documents
    )
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           round((length(text) - length(regexp_replace(text, '[^\\w{_WS_CHARS}]', '', 'g')))
                 / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS punct_ratio,
           round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                 / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS digit_ratio,
           round(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0)
                 / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS mean_token_len
    FROM t
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    feats = text.quality_features("text")
    return docs.select("doc_id", *[c.alias(n) for n, c in feats.items()])


@register(
    "text_lang_id",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang,
               list_filter(regexp_split_to_array(lower(text), '{_WS}'),
                           x -> x <> '') AS toks
        FROM documents
    ),
    hits AS (
        SELECT doc_id, lang,
           len(list_filter(toks, x -> list_contains(['the','and','of','to','a'], x))) AS en_hits,
           len(list_filter(toks, x -> list_contains(['der','die','und','das','ist'], x))) AS de_hits,
           len(list_filter(toks, x -> list_contains(['le','la','et','les','des'], x))) AS fr_hits,
           len(list_filter(toks, x -> list_contains(['el','la','que','los','de'], x))) AS es_hits
        FROM t
    )
    SELECT doc_id, lang AS labeled_lang,
           CASE
             WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits
                  AND en_hits > 0 THEN 'en'
             WHEN de_hits >= fr_hits AND de_hits >= es_hits AND de_hits > 0 THEN 'de'
             WHEN fr_hits >= es_hits AND fr_hits > 0 THEN 'fr'
             WHEN es_hits > 0 THEN 'es'
             ELSE 'unknown'
           END AS detected_lang
    FROM hits
    """,
)
def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language-ID heuristic with a fixed priority
    tie-break (en > de > fr > es > unknown)."""
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        text.detected_lang("text").alias("detected_lang"),
    )


# --------------------------------------------------------------------------
# Embedding near-dup + IVF ANN + rolling hash + TF-IDF
# --------------------------------------------------------------------------

@register(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_cos_sql('a.embedding', 'b.embedding')}, 6) AS cosine_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round({_cos_sql('a.embedding', 'b.embedding')}, 6) >= 0.4
    """,
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (broadcast-index numpy
    matmul; cosine >= 0.4 — the synthetic vectors have no planted dups,
    so the threshold sits in the upper tail of the real distribution)."""
    emb = load_table(spark, sf_dir, "embeddings", spread_input=True)
    return similarity.cosine_neardup_pairs(emb, threshold=0.4)


@register(
    "similarity_ann_ivf",
    # deterministic coarse quantizer (seed centroids, fixed tie-breaks)
    # → the oracle replays the full IVF protocol: assign, probe, re-rank.
    oracle=f"""
    WITH c AS (
        SELECT vec_id AS cent_id, embedding AS cent
        FROM embeddings WHERE vec_id < 16
    ),
    scored AS (
        SELECT e.vec_id, e.embedding, c.cent_id,
               {_cos_sql('e.embedding', 'c.cent')} AS sim
        FROM embeddings e CROSS JOIN c
    ),
    assigned AS (
        -- sim IS NOT NULL mirrors _ivf_assign's NULL-best drop: a
        -- zero-norm vector is excluded, never piled onto the min cid
        SELECT vec_id, embedding, cent_id FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY sim DESC, cent_id) AS rk
            FROM scored
        ) WHERE rk = 1 AND sim IS NOT NULL
    ),
    probes AS (
        SELECT cent_id FROM scored WHERE vec_id = 0
        ORDER BY sim DESC, cent_id LIMIT 2
    ),
    q AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0)
    SELECT a.vec_id,
           round({_cos_sql('a.embedding', 'q.q_vec')}, 6) AS cosine_sim
    FROM assigned a, q
    WHERE a.cent_id IN (SELECT cent_id FROM probes) AND a.vec_id <> 0
    ORDER BY cosine_sim DESC, a.vec_id
    LIMIT 10
    """,
)
def q_similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: 16 deterministic coarse cells, probe the 2 nearest,
    exact re-rank within. The scale path where a broadcast index no
    longer fits. Fully deterministic → the oracle replays assignment,
    probing, and re-rank in SQL."""
    emb = load_table(spark, sf_dir, "embeddings", spread_input=True)
    return similarity.ann_ivf_topk(emb, query_vec_id=0, n_centroids=16, n_probe=2)


_TOK = f"list_filter(regexp_split_to_array(lower(text), '{_WS}'), x -> x <> '')"


@register(
    "text_rolling_hash",
    oracle=f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(
               CAST(0 AS BIGINT),
               list_transform({_TOK}, t -> {md5_long_oracle_sql('t')})
             ),
             (a, b) -> (a * 31 + b) % 1000000000
           ) AS rolling_hash
    FROM documents
    """,
)
def q_text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive polynomial rolling hash over tokens (sequence
    fingerprint, vs the whole-text md5 fingerprint)."""
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    return docs.select("doc_id", text.rolling_hash("text").alias("rolling_hash"))


@register(
    "text_tfidf_top",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_TOK}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
        SELECT doc_id, term,
               round(tf * ln(n_docs / CAST(df AS DOUBLE)), 6) AS tfidf
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf, CAST(rk AS INT) AS rk
    FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, term) AS rk
        FROM scored
    )
    WHERE rk <= 3
    """,
)
def q_text_tfidf_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per doc by TF-IDF with deterministic
    tie-breaks."""
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    return text.tfidf_top_terms(docs, k=3)


@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_JACCARD_SQL}),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
    FROM reach GROUP BY src
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components (iterative min-label
    propagation with lineage checkpoints) over the exact-Jaccard near-dup
    pairs; cluster id = min member id. Computed collapse-first (pair
    graph over distinct canonical texts, membership expanded back —
    operators/dedup.duplicate_clusters_collapsed); the oracle stays the
    recursive-CTE closure over the FULL pair relation, so the driver
    verifies the collapse+expand is output-identical."""
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    return dedup.duplicate_clusters_collapsed(docs, threshold=0.8)


@register(
    "dedup_clusters_logstar",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_JACCARD_SQL}),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
    FROM reach GROUP BY src
    """,
)
def q_dedup_clusters_logstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters via LARGE-STAR/SMALL-STAR alternation
    (operators/dedup.duplicate_clusters_logstar; Kiveris et al. 2014)
    — the O(log n)-ROUND connected-components twin of dedup_clusters,
    pinned output-identical (same cluster_id = min member id; same
    recursive-CTE oracle). Min-label propagation converges in
    O(component diameter) rounds, which a chain-shaped dup cluster
    makes unbounded at 100 TB; star contraction halves path lengths
    every alternation, so round count is logarithmic in the largest
    component regardless of shape. Same collapse-first envelope: the
    star graph is over distinct-canonical-text representatives only."""
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    return dedup.duplicate_clusters_collapsed(
        docs, threshold=0.8, cc_kernel=dedup.duplicate_clusters_logstar
    )


def _stage_dup_clusters(spark: SparkSession, sf_dir: str) -> str:
    """Stage the near-dup CLUSTER MAP once per corpus version — the
    write-time-staging law applied to clustering (VERDICT r13 item 4):
    a real pipeline computes near-dup clusters ONCE (the dedup pass)
    and every downstream consumer probes the artifact; recomputing the
    rep-graph clustering inside each consumer query both repeats
    O(corpus) work (47 s at 100× inside the split query alone) and
    risks divergence between "the clusters dedup used" and "the
    clusters the split used". The artifact is the
    duplicate_clusters_collapsed output verbatim — (doc_id,
    cluster_id) for every doc in a dup relation — so any staged-vs-
    in-query difference would fail the consumer's unchanged oracle."""
    from nyc_opendata_etl_spark.sources.staging import is_stale, stage_dir

    path = stage_dir(sf_dir, "dup_clusters")
    if is_stale(path, sf_dir, "documents"):
        docs = load_table(spark, sf_dir, "documents", spread_input=True)
        dedup.duplicate_clusters_collapsed(docs, threshold=0.8).write.mode(
            "overwrite"
        ).parquet(path)
    return path


@register(
    "corpus_split_leakage_safe",
    # clusters replayed by the dedup_clusters recursive CTE; the split
    # key is the cluster id (doc id for singletons) so every near-dup
    # group lands WHOLLY in one split; the 80/10/10 cut replays the
    # md5_long fold on the key.
    oracle=f"""
    WITH RECURSIVE pairs AS ({_JACCARD_SQL}),
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
        SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src
    ),
    keyed AS (
        SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS split_key
        FROM documents d LEFT JOIN cl USING (doc_id)
    )
    SELECT doc_id, split_key,
           CASE WHEN {md5_long_oracle_sql("CAST(split_key AS VARCHAR)")} % 10 < 8
                     THEN 'train'
                WHEN {md5_long_oracle_sql("CAST(split_key AS VARCHAR)")} % 10 = 8
                     THEN 'val'
                ELSE 'test' END AS split
    FROM keyed
    """,
)
def q_corpus_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/val/test split: hash-assign by NEAR-DUP
    CLUSTER, not by document — a near-duplicate of a training doc in
    the eval set is silent benchmark contamination, the
    Lee-et-al.-2022 failure mode a plain per-doc hash split cannot
    prevent. Clusters come from the STAGED cluster map (r14, VERDICT
    r13 item 4: the collapse-first exact-Jaccard clustering runs once
    per corpus version at write time — _stage_dup_clusters — and this
    query probes the artifact, exactly how the split would consume an
    upstream dedup pass's output; the unchanged recursive-CTE oracle
    proves staged ≡ in-query). Singletons key on their own id; the
    80/10/10 cut is the deterministic md5_long fold on the key, so
    adding documents never reshuffles existing assignments (the
    stable-split property incremental corpus builds need). Plan shape:
    one parquet probe of the cluster artifact + one left join + pure
    expressions — index-probe scale, no rep-graph work in-query."""
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    clusters = spark.read.parquet(_stage_dup_clusters(spark, sf_dir))
    keyed = docs.select("doc_id").join(clusters, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("split_key"),
    )
    bucket = md5_long(F.col("split_key").cast("string")) % 10
    return keyed.select(
        "doc_id",
        "split_key",
        F.when(bucket < 8, "train")
        .when(bucket == 8, "val")
        .otherwise("test")
        .alias("split"),
    )


@register(
    "corpus_e2e_curation",
    # every stage is a proven oracle fragment composed end-to-end:
    # recursive-CTE clusters -> survivor anti-filter -> md5-fold split
    # -> regex token cost -> the pack_bins cumsum windows keyed per
    # (split, shard).
    oracle=f"""
    WITH RECURSIVE pairs AS ({_JACCARD_SQL}),
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
        SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src
    ),
    keep AS (
        SELECT d.doc_id, d.text FROM documents d
        WHERE d.doc_id NOT IN
              (SELECT doc_id FROM cl WHERE doc_id <> cluster_id)
    ),
    s AS (
        SELECT doc_id,
               CASE WHEN {md5_long_oracle_sql("CAST(doc_id AS VARCHAR)")} % 10 < 8
                         THEN 'train'
                    WHEN {md5_long_oracle_sql("CAST(doc_id AS VARCHAR)")} % 10 = 8
                         THEN 'val'
                    ELSE 'test' END AS split,
               CASE WHEN {md5_long_oracle_sql("CAST(doc_id AS VARCHAR)")} % 10 < 8
                         THEN 0 WHEN {md5_long_oracle_sql("CAST(doc_id AS VARCHAR)")} % 10 = 8
                         THEN 1 ELSE 2 END AS split_idx,
               CAST({md5_long_oracle_sql("CAST(doc_id AS VARCHAR)")} % 8 AS INT)
                   AS shard,
               CAST(len(regexp_extract_all(text,
                        '[A-Za-z]+|[0-9]+|[^A-Za-z0-9{_WS_CHARS}]')) + 1
                    AS BIGINT) AS cost
        FROM keep
    ),
    p AS (
        SELECT doc_id, split, shard, cost,
               CAST(split_idx AS BIGINT) * 1125899906842624
               + CAST(shard AS BIGINT) * 1099511627776
               + CAST(floor(COALESCE(sum(cost) OVER (
                     PARTITION BY split, shard ORDER BY cost DESC, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     / 512.0) AS BIGINT) AS pack_id
        FROM s
    )
    SELECT doc_id, split, shard, cost, pack_id,
           CAST(sum(cost) OVER (PARTITION BY pack_id) AS BIGINT) AS pack_fill
    FROM p
    """,
)
def q_corpus_e2e_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation pipeline a training-data team actually
    runs, as ONE composed plan: near-dup cluster (collapse-first
    exact-Jaccard CC) → keep one survivor per cluster (the min-id rep —
    every survivor's id IS its cluster id, so the leakage-safe split
    key is free) → 80/10/10 md5-fold split → tokenizer-cost
    decreasing-order packing per (split, shard). Nothing here is new
    machinery — it is the composition proof: the dedup kernel, the
    split rule, and the packing windows snap together without any
    driver-side glue, and the whole pipeline stays one lazy DataFrame a
    writer materializes with one action. Shuffle ledger: the clustering
    envelope + ONE window exchange on (split, shard) + the pack-stats
    window on its finer key; the split/cost stages are scan-local
    expressions. Output: (doc_id, split, shard, cost, pack_id,
    pack_fill), one row per surviving doc."""
    from nyc_opendata_etl_spark.operators.text import bpe_ish_token_count

    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    clusters = dedup.duplicate_clusters_collapsed(docs, threshold=0.8)
    dup_members = clusters.filter(
        F.col("doc_id") != F.col("cluster_id")
    ).select("doc_id")
    keep = docs.join(dup_members, "doc_id", "left_anti")
    bucket = md5_long(F.col("doc_id").cast("string")) % 10
    split = (
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test")
    )
    split_idx = (
        F.when(bucket < 8, 0).when(bucket == 8, 1).otherwise(2).cast("long")
    )
    s = keep.select(
        "doc_id",
        split.alias("split"),
        split_idx.alias("__si__"),
        F.pmod(md5_long(F.col("doc_id").cast("string")), F.lit(8))
        .cast("int")
        .alias("shard"),
        (bpe_ish_token_count("text").cast("long") + F.lit(1)).alias("cost"),
    )
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("split", "shard")
        .orderBy(F.col("cost").desc(), "doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("cost").over(w), F.lit(0))
    packed = s.select(
        "doc_id",
        "split",
        "shard",
        "cost",
        (
            F.col("__si__") * F.lit(1 << 50)
            + F.col("shard").cast("long") * F.lit(1 << 40)
            + F.floor(cum / 512)
        ).alias("pack_id"),
    )
    wp = W.partitionBy("pack_id")
    return packed.select(
        "doc_id",
        "split",
        "shard",
        "cost",
        "pack_id",
        F.sum("cost").over(wp).alias("pack_fill"),
    )


@register(
    "join_skew_salted",
    oracle="""
    WITH dim AS (
        SELECT unnest([0, 1, 2, 3, 4]) AS hot_key,
               unnest(['a', 'b', 'c', 'd', 'e']) AS dim_val
    )
    SELECT dim_val, count(*) AS n, sum(l_quantity) AS sum_qty
    FROM (SELECT l_orderkey % 5 AS hot_key, l_quantity FROM lineitem) f
    JOIN dim USING (hot_key)
    GROUP BY dim_val
    """,
)
def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted shuffle join under pathological key skew: the fact's join
    key has only 5 distinct values (each ~20% of all rows — a hot-key
    disaster for a plain hash shuffle), so rows are salted into 16
    sub-keys and the dim is replicated per salt. Identical result to the
    naive join, verified by the oracle."""
    from nyc_opendata_etl_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % 5).alias("hot_key"), "l_quantity", "l_linenumber"
    )
    dim = load_table(spark, sf_dir, "region").sparkSession.createDataFrame(
        [(i, v) for i, v in enumerate(["a", "b", "c", "d", "e"])],
        "hot_key long, dim_val string",
    )
    joined = salted_join(li, dim, "hot_key", buckets=16, salt_source=F.col("l_linenumber"))
    return joined.groupBy("dim_val").agg(
        F.count("*").alias("n"),
        F.sum("l_quantity").alias("sum_qty"),
    )


@register(
    "agg_distinct_twophase",
    oracle="""
    SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_distinct_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe COUNT(DISTINCT): dedupe on (group, value) with map-side
    partial aggregation first, then count — no hot group ever ships all
    its values to one reducer."""
    from nyc_opendata_etl_spark.operators.skew import two_phase_count_distinct

    li = load_table(spark, sf_dir, "lineitem")
    return two_phase_count_distinct(li, ["l_returnflag"], "l_suppkey", "n_supp")


# Shared DuckDB fragment: stopword-hit language detection (twin of
# operators/text.detected_lang).
_LANG_CASE = """
           CASE
             WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits
                  AND en_hits > 0 THEN 'en'
             WHEN de_hits >= fr_hits AND de_hits >= es_hits AND de_hits > 0 THEN 'de'
             WHEN fr_hits >= es_hits AND fr_hits > 0 THEN 'fr'
             WHEN es_hits > 0 THEN 'es'
             ELSE 'unknown'
           END
"""


@register(
    "corpus_curation",
    oracle=f"""
    WITH surv AS (
        SELECT min(doc_id) AS doc_id
        FROM documents
        GROUP BY {md5_long_oracle_sql(_CANON)}
    ),
    t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '{_WS}'), x -> x <> '')
                   AS raw_toks,
               list_filter(regexp_split_to_array(lower(text), '{_WS}'),
                           x -> x <> '') AS toks
        FROM documents
        WHERE doc_id IN (SELECT doc_id FROM surv)
    ),
    hits AS (
        SELECT doc_id, CAST(len(raw_toks) AS BIGINT) AS n_tokens,
           len(list_filter(toks, x -> list_contains(['the','and','of','to','a'], x))) AS en_hits,
           len(list_filter(toks, x -> list_contains(['der','die','und','das','ist'], x))) AS de_hits,
           len(list_filter(toks, x -> list_contains(['le','la','et','les','des'], x))) AS fr_hits,
           len(list_filter(toks, x -> list_contains(['el','la','que','los','de'], x))) AS es_hits
        FROM t
    )
    SELECT doc_id, n_tokens
    FROM hits
    WHERE {_LANG_CASE} = 'en' AND n_tokens BETWEEN 5 AND 1000
    """,
)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical training-corpus curation pipeline in one query:
    exact-dedup to first-seen survivors, language filter (en),
    token-count band filter.

    ONE corpus scan, ONE shuffle: the pre-round-11 shape collapsed via
    hash-aggregate then semi-joined BACK to the corpus to re-derive
    features — a second full-text scan plus a join exchange, and its
    token/lang stage re-ran the text regex split 5× per kept doc
    (87.8 s at the 100× replica). Now the content hash and the fused
    token/lang features (one tokenization —
    :func:`~nyc_opendata_etl_spark.operators.text.token_lang_features`)
    are computed map-side in the same scan, and first-seen survival is
    scalar LONG mins per hash (every feature is constant within a
    canon-hash group — tokenization is whitespace-class/case invariant
    — so min = the value; longs keep the aggregate a HashAggregate,
    where a struct/string min would fall back to SortAggregate), with
    the language decision re-derived post-agg from the aggregated hit
    counts. The band/language filter runs on the collapsed (small)
    side."""
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    f = text.token_lang_features("text")
    per_doc = docs.select(
        text.fingerprint("text").alias("h"), F.col("doc_id"), f.alias("f")
    )
    surv = per_doc.groupBy("h").agg(
        F.min("doc_id").alias("doc_id"),
        F.min("f.n_tokens").alias("n_tokens"),
        F.min("f.en_hits").alias("en"),
        F.min("f.de_hits").alias("de"),
        F.min("f.fr_hits").alias("fr"),
        F.min("f.es_hits").alias("es"),
    )
    lang = text.lang_decision(
        F.col("en"), F.col("de"), F.col("fr"), F.col("es")
    )
    return (
        surv.select("doc_id", "n_tokens", lang.alias("lang_det"))
        .filter((F.col("lang_det") == "en") & F.col("n_tokens").between(5, 1000))
        .select("doc_id", "n_tokens")
    )


@register(
    "text_length_histogram",
    oracle=f"""
    SELECT CAST(floor(len(list_filter(regexp_split_to_array(text, '{_WS}'),
                                      x -> x <> '')) / 20) * 20 AS BIGINT)
               AS token_bucket,
           count(*) AS n_docs
    FROM documents
    GROUP BY 1
    """,
)
def q_text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length distribution: token counts bucketed by 20 — the
    standard pre-training corpus diagnostic (one map-side bucket expr +
    one hash aggregate)."""
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    bucket = (F.floor(text.token_count("text") / 20) * 20).cast("long")
    return docs.groupBy(bucket.alias("token_bucket")).agg(
        F.count("*").alias("n_docs")
    )


@register(
    "corpus_split",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN {md5_long_oracle_sql('CAST(doc_id AS VARCHAR)')} % 100 < 80
                THEN 'train'
                WHEN {md5_long_oracle_sql('CAST(doc_id AS VARCHAR)')} % 100 < 90
                THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by content hash
    of the document id — stable across runs, engines, and cluster
    layouts (no seeded RNG, no row order dependence), which is what a
    reproducible training pipeline needs. Pure map-side expression."""
    from nyc_opendata_etl_spark.functions.hashing import md5_long

    docs = load_table(spark, sf_dir, "documents")
    bucket = md5_long(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return docs.select("doc_id", split.alias("split"))


@register(
    "dedup_incremental",
    oracle=f"""
    WITH old AS (
        SELECT DISTINCT {md5_long_oracle_sql(_CANON)} AS h
        FROM documents WHERE doc_id % 2 = 0
    ),
    new_batch AS (
        SELECT doc_id, {md5_long_oracle_sql(_CANON)} AS h
        FROM documents WHERE doc_id % 2 = 1
    )
    SELECT doc_id FROM new_batch n
    WHERE NOT EXISTS (SELECT 1 FROM old o WHERE o.h = n.h)
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: a new batch checked against the historical
    corpus's STAGED fingerprint index (even doc_ids stand in for the
    corpus, odd for the batch). The index is a write-time parquet
    artifact (built incrementally — base + append — by the staging
    layer), so the query tokenizes/hashes ONLY the new batch and
    probes the corpus's (hash, refcount) log with it: O(new docs) per
    increment regardless of corpus size, vs a re-canonicalization of
    the full corpus per run (62 s at the 100× replica). The log is
    delete-free here, so the oracle's plain anti join against the
    corpus hashes, recomputed from raw documents, is the answer; it
    verifies the staged index's contents, not just the join."""
    index_path = _stage_fingerprint_index(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    index = must_read_log(spark, current_dir(index_path), dedup.FINGERPRINT_INDEX_SCHEMA)
    return dedup.incremental_new_docs(batch, index)


@register(
    "text_repetition",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '{_WS}'),
                           x -> x <> '') AS toks
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= 3 THEN
                   [array_to_string(toks[i:i+2], ' ')
                    FOR i IN range(1, len(toks) - 1)]
               ELSE [] END AS shingles
        FROM t
    )
    SELECT doc_id,
           CAST(len(shingles) AS INT) AS n_shingles,
           round(CASE WHEN len(shingles) > 0
                 THEN 1.0 - len(list_distinct(shingles))
                      / CAST(len(shingles) AS DOUBLE)
                 ELSE 0.0 END, 6) AS repetition_ratio
    FROM sh
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition: 1 - distinct/total 3-gram shingles —
    the standard boilerplate/spam signal for corpus filtering. Pure
    map-side expression over the shingle array."""
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    sh = dedup.word_shingles("text", 3)
    n = F.size(sh)
    ratio = F.when(
        n > 0,
        F.round(1.0 - F.size(F.array_distinct(sh)) / n.cast("double"), 6),
    ).otherwise(F.lit(0.0))
    return docs.select(
        "doc_id",
        n.cast("int").alias("n_shingles"),
        ratio.alias("repetition_ratio"),
    )


# Conservative patterns valid in BOTH Java regex (Spark) and RE2 (DuckDB):
# no backreferences, no lookaround, explicit classes only.
_PII_PATTERNS = {
    "emails": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}",
    "phones": "[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}",
    "ipv4s": "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}",
}


@register(
    "text_pii_scan",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_PATTERNS["emails"]}'))
                AS INT) AS emails,
           CAST(len(regexp_extract_all(text, '{_PII_PATTERNS["phones"]}'))
                AS INT) AS phones,
           CAST(len(regexp_extract_all(text, '{_PII_PATTERNS["ipv4s"]}'))
                AS INT) AS ipv4s
    FROM documents
    """,
)
def q_text_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII pre-scrub scan: per-doc counts of email/phone/IPv4 matches
    (the detection half of redaction; patterns restricted to syntax
    shared by Java regex and RE2 so the oracle is exact)."""
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    return docs.select(
        "doc_id",
        *[
            F.size(F.regexp_extract_all("text", F.lit(pat), 0)).alias(name)
            for name, pat in _PII_PATTERNS.items()
        ],
    )


@register(
    "dedup_embedding_lsh",
    oracle=f"""
    WITH reps AS (
        SELECT CAST(min(vec_id) AS BIGINT) AS vec_id, embedding
        FROM embeddings GROUP BY embedding
    ),
    b AS (
        SELECT vec_id, embedding,
               (CASE WHEN CAST(embedding[1] AS DOUBLE) - CAST(embedding[2] AS DOUBLE) >= 0 THEN 1 ELSE 0 END)
             + (CASE WHEN CAST(embedding[3] AS DOUBLE) - CAST(embedding[4] AS DOUBLE) >= 0 THEN 2 ELSE 0 END)
               AS bucket
        FROM reps
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_cos_sql('a.embedding', 'b.embedding')}, 6) AS cosine_sim
    FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round({_cos_sql('a.embedding', 'b.embedding')}, 6) >= 0.4
    """,
)
def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via LSH buckets + exact in-bucket verify —
    the scale path for dedup_embedding_cosine (no broadcast index, no
    O(n²)); 2 planes here so buckets stay populated at test scale."""
    emb = load_table(spark, sf_dir, "embeddings", spread_input=True)
    planes = []
    for i in range(2):
        plane = [0.0] * 64
        plane[i * 2] = 1.0
        plane[i * 2 + 1] = -1.0
        planes.append(plane)
    return similarity.lsh_neardup_pairs(emb, planes, threshold=0.4)


@register(
    "text_unigram_logprob",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_TOK}) AS term FROM documents
    ),
    model AS (
        SELECT term, count(*) AS c FROM tok GROUP BY term
    ),
    totals AS (
        SELECT sum(c) AS n_total, count(*) AS vocab FROM model
    ),
    scored AS (
        SELECT t.doc_id,
               CAST(round(ln((m.c + 1) / CAST(tt.n_total + tt.vocab AS DOUBLE)), 9)
                    AS DECIMAL(28,12)) AS lp
        FROM tok t JOIN model m USING (term) CROSS JOIN totals tt
    )
    SELECT doc_id,
           round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS mean_logprob,
           CAST(count(*) AS BIGINT) AS n_scored
    FROM scored
    GROUP BY doc_id
    """,
)
def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-self-trained unigram LM score per document (mean token
    log-probability with add-one smoothing) — the classic cheap quality
    signal for corpus filtering.

    Determinism note: a distributed float sum has partition-dependent
    order, so each token's logprob is rounded to 9 decimals and summed
    as DECIMAL(28,12) — exact, order-independent — then the mean is
    rounded to 6. Both engines fold identically, so the oracle is a
    full value match despite float math in the middle.
    """
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    tok = docs.select(
        "doc_id", F.explode(text.tokens(F.lower(F.col("text")))).alias("term")
    )
    model = tok.groupBy("term").agg(F.count("*").alias("c"))
    totals = model.agg(
        F.sum("c").alias("n_total"), F.count("*").alias("vocab")
    )
    lp = F.round(
        F.log((F.col("c") + 1) / (F.col("n_total") + F.col("vocab")).cast("double")),
        9,
    ).cast("decimal(28,12)")
    scored = (
        tok.join(model, "term")
        .crossJoin(F.broadcast(totals))
        .select("doc_id", lp.alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.sum("lp").cast("double") / F.count("*"), 6).alias("mean_logprob"),
        F.count("*").alias("n_scored"),
    )


# ── corpus curation (operators/curation.py) ─────────────────────────────

_SHINGLE3_SQL = f"""
        SELECT doc_id AS id,
               unnest(list_distinct([
                   array_to_string(toks[i:i+2], ' ')
                   FOR i IN range(1, len(toks) - 1)
               ])) AS shingle
        FROM (SELECT doc_id, string_split({_CANON}, ' ') AS toks FROM documents)
        WHERE len(toks) >= 3
"""


@register(
    "corpus_decontaminate",
    oracle=f"""
    WITH sh AS ({_SHINGLE3_SQL}),
    tr AS (SELECT * FROM sh WHERE id % 50 <> 0),
    ev AS (SELECT * FROM sh WHERE id % 50 = 0)
    SELECT tr.id AS doc_id,
           count(DISTINCT tr.shingle) AS n_shared_shingles,
           count(DISTINCT ev.id) AS n_eval_docs_hit
    FROM tr JOIN ev ON tr.shingle = ev.shingle
    GROUP BY 1
    """,
)
def q_corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: train docs sharing any 3-gram shingle
    with the (stand-in) eval set doc_id % 50 == 0. Eval side broadcasts;
    the train shingle fan-out dies at the broadcast join, so nothing
    quadratic ever shuffles."""
    from nyc_opendata_etl_spark.operators import curation

    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    eval_set = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    return curation.decontaminate(train, eval_set)


@register(
    "corpus_pack_sequences",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               CAST({md5_long_oracle_sql("CAST(doc_id AS VARCHAR)")} % 8 AS INT)
                   AS shard,
               CAST(len(list_filter(regexp_split_to_array(text, '{_WS}'),
                                    x -> x <> '')) AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT doc_id, shard, n_tokens,
           CAST(shard AS BIGINT) * 1099511627776
           + CAST(floor(COALESCE(sum(n_tokens) OVER (
                 PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 / 256.0) AS BIGINT) AS pack_id
    FROM t
    """,
)
def q_corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded greedy sequence packing under a 256-token budget — the
    training-batch assembly step. Hash shards pack independently (one
    window per shard, parallel), so no global total order exists
    anywhere in the plan."""
    from nyc_opendata_etl_spark.operators import curation

    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    return curation.pack_sequences(docs)


@register(
    "corpus_pack_bins",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               CAST({md5_long_oracle_sql("CAST(doc_id AS VARCHAR)")} % 8 AS INT)
                   AS shard,
               CAST(len(regexp_extract_all(text,
                        '[A-Za-z]+|[0-9]+|[^A-Za-z0-9{_WS_CHARS}]')) + 1
                    AS BIGINT) AS cost
        FROM documents
    ),
    p AS (
        SELECT doc_id, shard, cost,
               CAST(shard AS BIGINT) * 1099511627776
               + CAST(floor(COALESCE(sum(cost) OVER (
                     PARTITION BY shard ORDER BY cost DESC, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     / 512.0) AS BIGINT) AS pack_id
        FROM t
    )
    SELECT doc_id, shard, cost, pack_id,
           CAST(sum(cost) OVER (PARTITION BY pack_id) AS BIGINT) AS pack_fill,
           CAST(count(*) OVER (PARTITION BY pack_id) AS BIGINT) AS pack_docs
    FROM p
    """,
)
def q_corpus_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-aware decreasing-order cumsum packing under a
    512-token budget: each doc costs its BPE-ish token count + 1
    separator token, hash shards pack independently in (cost DESC,
    doc_id) order, and per-pack fill/doc-count stats ride along. The
    two axes a training-batch assembler tunes beyond
    corpus_pack_sequences' arrival-order whitespace packing:
    subword-tracking cost and decreasing order (big docs concentrate
    in the earliest packs; a boundary-straddling doc stays in the
    earlier pack, so pack_fill < budget + max(cost in pack), and fills
    sum exactly to the shard total — window phase, never lost
    capacity). See operators/curation.pack_bins_decreasing for the
    packing-discipline and 2^40 pack-id scale contract."""
    from nyc_opendata_etl_spark.operators import curation

    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    return curation.pack_bins_decreasing(docs, token_budget=512)


def _bpe_merges_values_sql() -> tuple[str, int]:
    """(VALUES-relation SQL for the shipped merges fixture, n_merges).
    Single-quote-safe: merge symbols come from BPE_ISH_RE pretokens
    (alnum runs / single punctuation), so embedded quotes are escaped
    defensively anyway."""
    merges = text.load_bpe_merges()
    rows = ", ".join(
        "({}, '{}', '{}')".format(r, x.replace("'", "''"), y.replace("'", "''"))
        for r, (x, y) in enumerate(merges)
    )
    return f"SELECT * FROM (VALUES {rows}) v", len(merges)


_BPE_VALUES_SQL, _BPE_N = _bpe_merges_values_sql()

# One BPE merge pass as a position-local indexed-lambda transform —
# sound because learned merges never have left == right (operators/
# text.py module note), so occurrences cannot overlap and "start" /
# "consumed" are unambiguous local predicates.
_BPE_PASS_SQL = """
        list_filter(
          list_transform(b.syms, (e, i) ->
            CASE WHEN e = m.lft AND i < len(b.syms)
                      AND b.syms[i + 1] = m.rgt THEN m.lft || m.rgt
                 WHEN e = m.rgt AND i > 1
                      AND b.syms[i - 1] = m.lft THEN NULL
                 ELSE e END),
          x -> x IS NOT NULL)"""


@register(
    "corpus_pack_bins_tokenized",
    # The oracle replays the REAL staged-merges BPE: distinct pretoken
    # words -> a recursive CTE applying merge rank r at level r (one
    # indexed-lambda pass per level) -> per-doc token sums -> the
    # corpus_pack_bins packing verbatim. A full value match verifies
    # the UDF's merge loop, the cache, the pretokenizer, AND the
    # packing on top of it.
    oracle=f"""
    WITH RECURSIVE m(r, lft, rgt) AS ({_BPE_VALUES_SQL}),
    dw AS (
        SELECT doc_id,
               unnest(regexp_extract_all(text,
                   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9{_WS_CHARS}]')) AS word
        FROM documents
    ),
    w(word) AS (SELECT DISTINCT word FROM dw),
    b(word, syms, r) AS (
        SELECT word, str_split(word, ''), 0 FROM w
        UNION ALL
        SELECT b.word, {_BPE_PASS_SQL}, b.r + 1
        FROM b JOIN m ON m.r = b.r
        WHERE b.r < {_BPE_N}
    ),
    wc AS (SELECT word, len(syms) AS n FROM b WHERE r = {_BPE_N}),
    dc AS (
        SELECT dw.doc_id, CAST(sum(wc.n) AS BIGINT) AS n
        FROM dw JOIN wc USING (word) GROUP BY dw.doc_id
    ),
    t AS (
        SELECT d.doc_id,
               CAST({md5_long_oracle_sql("CAST(d.doc_id AS VARCHAR)")} % 8 AS INT)
                   AS shard,
               CAST(CASE WHEN d.text IS NULL THEN NULL
                         ELSE COALESCE(dc.n, 0) + 1 END AS BIGINT) AS cost
        FROM documents d LEFT JOIN dc USING (doc_id)
    ),
    p AS (
        SELECT doc_id, shard, cost,
               CAST(shard AS BIGINT) * 1099511627776
               + CAST(floor(COALESCE(sum(cost) OVER (
                     PARTITION BY shard ORDER BY cost DESC, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     / 512.0) AS BIGINT) AS pack_id
        FROM t
    )
    SELECT doc_id, shard, cost, pack_id,
           CAST(sum(cost) OVER (PARTITION BY pack_id) AS BIGINT) AS pack_fill,
           CAST(count(*) OVER (PARTITION BY pack_id) AS BIGINT) AS pack_docs
    FROM p
    """,
)
def q_corpus_pack_bins_tokenized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus_pack_bins with the cost column computed by a REAL BPE
    tokenizer (text.pandas_bpe_token_count over the shipped
    resources/bpe_merges.json merges table — learned from the corpus
    by text.learn_bpe_merges, Sennrich et al. 2016), replacing the
    round-8..11 regex stand-in in the tokenizer slot. The Arrow-batched
    UDF pretokenizes with the dual-dialect BPE_ISH_RE and merges each
    distinct word once (worker-side cache); the oracle replays the
    identical merges table level-by-level in a recursive CTE, so the
    value match pins the merge semantics cross-engine, not just the
    plumbing. Scale shape unchanged: the UDF runs in the scan stage
    before the one shard exchange; only a long survives it."""
    from nyc_opendata_etl_spark.operators import curation

    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    return curation.pack_bins_decreasing(
        docs,
        token_budget=512,
        cost_col=text.pandas_bpe_token_count("text", text.load_bpe_merges()),
    )


@register(
    "corpus_tokenize_ids",
    # Vocab is DERIVED in SQL from the same merges VALUES table the
    # counting oracle embeds: composites id = 1e6 + min rank, single
    # chars id = unicode(sym) — the bpe_vocab_ids scheme. Token order
    # is pretoken position × symbol index, reassembled with parallel
    # unnests and an ordered list aggregate.
    oracle=f"""
    WITH RECURSIVE m(r, lft, rgt) AS ({_BPE_VALUES_SQL}),
    cm AS (
        SELECT lft || rgt AS tok, 1000000 + min(r) AS id FROM m GROUP BY 1
    ),
    dws AS (
        SELECT doc_id,
               regexp_extract_all(text,
                   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9{_WS_CHARS}]') AS ws
        FROM documents
    ),
    dwp AS (
        SELECT doc_id, unnest(ws) AS word, unnest(range(len(ws))) AS pos
        FROM dws
    ),
    w(word) AS (SELECT DISTINCT word FROM dwp),
    b(word, syms, r) AS (
        SELECT word, str_split(word, ''), 0 FROM w
        UNION ALL
        SELECT b.word, {_BPE_PASS_SQL}, b.r + 1
        FROM b JOIN m ON m.r = b.r
        WHERE b.r < {_BPE_N}
    ),
    wc AS (SELECT word, syms FROM b WHERE r = {_BPE_N}),
    tok AS (
        SELECT d.doc_id, d.pos, unnest(wc.syms) AS sym,
               unnest(range(len(wc.syms))) AS si
        FROM dwp d JOIN wc USING (word)
    ),
    ids AS (
        SELECT doc_id, pos, si,
               CASE WHEN len(sym) = 1 THEN unicode(sym) ELSE cm.id END AS id
        FROM tok LEFT JOIN cm ON cm.tok = sym
    ),
    agg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
               array_to_string(
                   list_slice(list(id ORDER BY pos, si), 1, 32), ' ')
                   AS ids_head
        FROM ids GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(CASE WHEN d.text IS NULL THEN NULL
                     ELSE COALESCE(a.n_tokens, 0) END AS BIGINT) AS n_tokens,
           CASE WHEN d.text IS NULL THEN NULL
                ELSE COALESCE(a.ids_head, '') END AS ids_head
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def q_corpus_tokenize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BPE ENCODING — the artifact a training pipeline actually
    emits: per document, the total subword count and the first 32
    token IDS under the shipped merges table + deterministic vocab
    (text.pandas_bpe_encode / bpe_vocab_ids: codepoints for single
    chars, 1e6+rank for merge composites). Completes the tokenizer
    story begun in r11 (slot) and r12 (real counting): learn → count →
    ENCODE, all three oracle-pinned. Scale shape: one Arrow-batched
    UDF in the scan stage with a distinct-word symbol cache; only two
    scalar columns leave the Python worker; no shuffle at all."""
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    enc = text.pandas_bpe_encode("text", text.load_bpe_merges(), head=32)
    return docs.select("doc_id", enc.alias("e")).select(
        "doc_id",
        F.col("e.n_tokens").alias("n_tokens"),
        F.col("e.ids_head").alias("ids_head"),
    )


@register(
    "corpus_chunk_docs",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '{_WS}'),
                           x -> x <> '') AS toks
        FROM documents
    ),
    s AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
    ch AS (
        SELECT doc_id, toks,
               unnest(range(0, CASE WHEN n <= 64 THEN 1
                                    ELSE (n - 64 + 55) // 56 + 1 END))
                   AS chunk_id
        FROM s
    )
    SELECT doc_id,
           CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(len(list_slice(toks, chunk_id * 56 + 1, chunk_id * 56 + 64))
                AS BIGINT) AS n_chunk_tokens,
           array_to_string(
               list_slice(toks, chunk_id * 56 + 1, chunk_id * 56 + 64), ' ')
               AS chunk_text
    FROM ch
    """,
)
def q_corpus_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-token chunking (64-token windows, 8-token
    overlap → stride 56) — the context-window splitting step of a
    training/RAG pipeline. Pure projection + explode: no shuffle, the
    token arrays never leave the scan stage."""
    from nyc_opendata_etl_spark.operators import curation

    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    return curation.chunk_documents(docs, chunk_tokens=64, overlap=8)


@register(
    "corpus_curriculum_order",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, source AS domain,
               CAST(len(regexp_extract_all(text,
                        '[A-Za-z]+|[0-9]+|[^A-Za-z0-9{_WS_CHARS}]'))
                    AS BIGINT) AS difficulty
        FROM documents
    ),
    d AS (
        SELECT domain,
               CAST(row_number() OVER (ORDER BY domain) AS BIGINT) - 1
                   AS dom_idx
        FROM (SELECT DISTINCT domain FROM s)
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
    r AS (
        SELECT doc_id, domain, difficulty,
               CAST(row_number() OVER (
                   PARTITION BY domain ORDER BY difficulty, doc_id
               ) AS BIGINT) AS rk
        FROM s
    )
    SELECT r.doc_id, r.domain, r.difficulty, r.rk,
           (r.rk - 1) * n.n + d.dom_idx AS position
    FROM r JOIN d USING (domain) CROSS JOIN n
    """,
)
def q_corpus_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training order: easy-first (BPE-ish length) within
    each source domain, domains interleaved round-robin, with the
    GLOBAL position computed arithmetically —
    ``(rk-1)·n_domains + dom_idx`` — instead of a single-task global
    row_number. One shuffle on the domain key; the domain index and
    count broadcast. See operators/curation.curriculum_order."""
    from nyc_opendata_etl_spark.operators import curation

    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    return curation.curriculum_order(docs)


@register(
    "corpus_sample_stratified",
    oracle=f"""
    SELECT lang, doc_id, CAST(rk AS INT) AS rk FROM (
        SELECT lang, doc_id,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY {md5_long_oracle_sql("CAST(doc_id AS VARCHAR)")},
                            doc_id) AS rk
        FROM documents)
    WHERE rk <= 20
    """,
)
def q_corpus_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 20-per-language deterministic sample (md5 order = seedless
    reproducible pseudo-randomness; one shuffle on the stratum key)."""
    from nyc_opendata_etl_spark.operators import curation

    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    return curation.stratified_sample(docs, "lang", k=20)


@register(
    "text_ngram_topk",
    oracle=f"""
    WITH g AS (
        SELECT unnest([
                   array_to_string(toks[i:i+1], ' ')
                   FOR i IN range(1, len(toks))
               ]) AS ngram
        FROM (SELECT string_split({_CANON}, ' ') AS toks FROM documents)
        WHERE len(toks) >= 2
    )
    SELECT ngram, count(*) AS n_occurrences
    FROM g GROUP BY 1
    ORDER BY n_occurrences DESC, ngram
    LIMIT 10
    """,
)
def q_text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide most-frequent bigrams (cross-document repetition
    mining). Map-side partial counts; the limit plans as
    TakeOrderedAndProject so only k rows cross the final exchange."""
    from nyc_opendata_etl_spark.operators import curation

    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    return curation.ngram_topk(docs, n=2, k=10)


@register(
    "corpus_domain_mix",
    oracle=f"""
    WITH c AS (
        SELECT lang, source, count(*) AS n_docs,
               CAST(sum(len(list_filter(regexp_split_to_array(text, '{_WS}'),
                                        x -> x <> ''))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY 1, 2
    )
    SELECT lang, source, n_docs, n_tokens,
           round(n_docs / CAST((SELECT sum(n_docs) FROM c) AS DOUBLE), 6)
               AS frac_docs,
           round(n_tokens / CAST((SELECT sum(n_tokens) FROM c) AS DOUBLE), 6)
               AS frac_tokens
    FROM c
    """,
)
def q_corpus_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix accounting per (lang, source): doc/token mass and each
    cell's corpus fraction — the input table of a data-mixing policy."""
    from nyc_opendata_etl_spark.operators import curation

    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    return curation.domain_mix(docs)


@register(
    "dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_JACCARD_SQL}),
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
    clus AS (
        SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src
    ),
    q AS (
        SELECT doc_id,
               CAST(len(list_filter(regexp_split_to_array(text, '{_WS}'),
                                    x -> x <> '')) AS INT) AS n_tokens
        FROM documents
    ),
    ranked AS (
        SELECT c.doc_id, q.n_tokens,
               row_number() OVER (PARTITION BY c.cluster_id
                                  ORDER BY q.n_tokens DESC, c.doc_id) AS rn
        FROM clus c JOIN q ON q.doc_id = c.doc_id
    )
    SELECT doc_id, n_tokens, 'canonical' AS keep_reason
    FROM ranked WHERE rn = 1
    UNION ALL
    SELECT q.doc_id, q.n_tokens, 'unique' AS keep_reason
    FROM q LEFT JOIN clus c ON c.doc_id = q.doc_id
    WHERE c.doc_id IS NULL
    """,
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup lifecycle's final step — emit the CLEANED corpus
    keep-list: documents outside any near-dup cluster pass through
    ('unique'); within each cluster exactly one canonical survivor is
    selected by quality argmax (most tokens, doc_id tie-break).
    Clusters come from the STAGED cluster map since r14
    (_stage_dup_clusters — the write-time-staging law applied to this
    family's second consumer after corpus_split_leakage_safe: a real
    pipeline clusters once and every downstream step probes the
    artifact; the unchanged recursive-CTE oracle is the staged ≡
    in-query proof). Selection is one window over cluster members — a
    relation bounded by duplicates, not corpus size. The uniques
    anti-join is left to AQE: the membership list scales with
    DUPLICATE DOCS, not clusters, so a forced broadcast hint would
    OOM a duplicate-heavy 100 TB corpus — AQE broadcasts it while it
    is small and falls back to a shuffled anti-join when it is not
    (r13 llm_ops review)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    clusters = spark.read.parquet(_stage_dup_clusters(spark, sf_dir))
    quality = docs.select(
        "doc_id", text.token_count("text").alias("n_tokens")
    )
    members = clusters.join(quality, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id")
    )
    canonical = (
        members.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "n_tokens", F.lit("canonical").alias("keep_reason"))
    )
    uniques = quality.join(
        clusters.select("doc_id"), "doc_id", "left_anti"
    ).select("doc_id", "n_tokens", F.lit("unique").alias("keep_reason"))
    return canonical.unionByName(uniques)


# --------------------------------------------------------------------------
# Round 5: iterative-ML + curation additions
# --------------------------------------------------------------------------

_COS_CENT = (
    "list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cvec)"
    " / nullif(sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),"
    "                                CAST(e.embedding AS DOUBLE[])))"
    " * sqrt(list_dot_product(c.cvec, c.cvec)), 0)"
)


@register(
    "embedding_kmeans_update",
    oracle=f"""
    WITH cents AS (
        SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cvec
        FROM embeddings WHERE vec_id < 8
    ),
    scored AS (
        SELECT e.vec_id, e.embedding, c.cent_id, {_COS_CENT} AS sim
        FROM embeddings e, cents c
    ),
    assigned AS (
        SELECT vec_id, embedding, cent_id
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY sim DESC, cent_id) AS rn
              FROM scored)
        WHERE rn = 1 AND sim IS NOT NULL
    ),
    ex AS (
        SELECT cent_id,
               unnest(range(len(embedding))) AS dim,
               unnest(CAST(embedding AS DOUBLE[])) AS val
        FROM assigned
    )
    SELECT cent_id, CAST(dim AS BIGINT) AS dim,
           round(CAST(sum(CAST(val AS DECIMAL(27,10))) AS DOUBLE)
                 / count(*), 6) AS mean_val,
           count(*) AS n_members
    FROM ex GROUP BY cent_id, dim
    """,
)
def q_embedding_kmeans_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full distributed k-means (Lloyd) iteration over the embedding
    table: assign every vector to its nearest of 8 deterministic seed
    centroids (cosine; N×k scoring against a broadcast centroid table,
    argmin via one window on vec_id), then recompute centroids as
    element-wise means — posexplode to (dim, value) rows so the mean is
    a plain partial-aggregable groupBy, never a collect of vectors.
    Emitted in long form (cent_id, dim, mean_val): at 100 TB the
    centroid update is exactly this shuffle of k×dim partial sums, and
    the decimal routing makes the means order-independent for the
    cross-engine hash. Iterating = re-broadcasting the 8×64 result."""
    emb = load_table(spark, sf_dir, "embeddings", spread_input=True)
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    from pyspark.sql import Window

    scored = emb.crossJoin(F.broadcast(cents)).withColumn(
        "sim", similarity.cosine(F.col("embedding"), F.col("cvec"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), "cent_id")
    assigned = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cent_id", "embedding")
    )
    ex = assigned.select(
        "cent_id", F.posexplode("embedding").alias("dim", "val")
    )
    return (
        ex.groupBy("cent_id", F.col("dim").cast("long").alias("dim"))
        .agg(
            F.round(
                F.sum(F.col("val").cast("double").cast("decimal(27,10)"))
                .cast("double")
                / F.count("*"),
                6,
            ).alias("mean_val"),
            F.count("*").alias("n_members"),
        )
    )


@register(
    "outlier_robust_z",
    oracle="""
    WITH med AS (
        SELECT lang, quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS med
        FROM documents GROUP BY lang
    ),
    dev AS (
        SELECT d.doc_id, d.lang, d.n_chars, m.med,
               abs(CAST(d.n_chars AS DOUBLE) - m.med) AS adev
        FROM documents d JOIN med m USING (lang)
    ),
    mad AS (SELECT lang, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY lang)
    SELECT doc_id, lang, n_chars,
           round(v.med, 6) AS lang_median,
           round(t.mad, 6) AS lang_mad,
           round(v.adev / t.mad, 6) AS robust_z
    FROM dev v JOIN mad t USING (lang)
    WHERE t.mad > 0 AND v.adev / t.mad > 2.0
    """,
)
def q_outlier_robust_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-language outlier detection on document length:
    median/MAD (not mean/stddev, which an outlier itself corrupts).
    Two exact-percentile aggregates over the same grouping — the
    5-row median and MAD relations broadcast back, so the documents
    scan is never shuffled. Median interpolation on integers and
    half-integer deviations is exact double arithmetic, so both
    engines agree bit-for-bit before rounding."""
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    med = docs.groupBy("lang").agg(
        F.percentile(F.col("n_chars").cast("double"), F.lit(0.5)).alias("med")
    )
    dev = docs.join(F.broadcast(med), "lang").select(
        "doc_id",
        "lang",
        "n_chars",
        "med",
        F.abs(F.col("n_chars").cast("double") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("lang").agg(
        F.percentile(F.col("adev"), F.lit(0.5)).alias("mad")
    )
    z = F.col("adev") / F.col("mad")
    return (
        dev.join(F.broadcast(mad), "lang")
        .filter((F.col("mad") > 0) & (z > 2.0))
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.round("med", 6).alias("lang_median"),
            F.round("mad", 6).alias("lang_mad"),
            F.round(z, 6).alias("robust_z"),
        )
    )


@register(
    "text_boilerplate_ngrams",
    oracle=f"""
    WITH g AS (
        SELECT DISTINCT doc_id,
               unnest([
                   array_to_string(toks[i:i+2], ' ')
                   FOR i IN range(1, len(toks) - 1)
               ]) AS ngram
        FROM (SELECT doc_id, string_split({_CANON}, ' ') AS toks
              FROM documents)
        WHERE len(toks) >= 3
    )
    SELECT ngram, count(*) AS doc_freq,
           round(count(*) / CAST((SELECT count(*) FROM documents) AS DOUBLE),
                 6) AS frac_docs
    FROM g GROUP BY ngram
    HAVING count(*) >= 5
    """,
)
def q_text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-span mining: word 3-grams occurring in ≥5 distinct
    documents (repeated navigation/footer text is the #1 contaminant a
    web-scale corpus cleaner strips). Per-doc DISTINCT shingles keep a
    spammy single document from inflating a span's corpus-wide count;
    the doc-frequency aggregate partial-aggregates map-side, and the
    total-docs denominator is a 1-row broadcast."""
    from nyc_opendata_etl_spark.operators.curation import shingles

    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    grams = docs.select(
        "doc_id", F.explode(shingles("text", 3, distinct=True)).alias("ngram")
    )
    total = docs.agg(F.count("*").alias("n_total"))
    return (
        grams.groupBy("ngram")
        .agg(F.count("*").alias("doc_freq"))
        .filter(F.col("doc_freq") >= 5)
        .crossJoin(F.broadcast(total))
        .select(
            "ngram",
            "doc_freq",
            F.round(F.col("doc_freq") / F.col("n_total").cast("double"), 6).alias(
                "frac_docs"
            ),
        )
    )


@register(
    "corpus_sample_weighted",
    oracle=f"""
    SELECT doc_id, n_chars,
           round(n_chars / 600.0, 6) AS keep_prob
    FROM documents
    WHERE ({md5_long_oracle_sql("'w:' || CAST(doc_id AS VARCHAR)")} % 1000000)
          * 600 < n_chars * 1000000
    """,
)
def q_corpus_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted deterministic sampling: keep each document with
    probability n_chars/600, decided by a salted content hash instead of
    a seeded RNG — reproducible across runs, engines, and partitionings
    (the property a training-mixture sampler needs for exact reruns).
    The accept test is pure integer math (hash·600 < n_chars·10⁶): no
    float threshold, so no cross-engine rounding edge. Map-side only —
    zero shuffles."""
    from nyc_opendata_etl_spark.functions.hashing import md5_long

    docs = load_table(spark, sf_dir, "documents")
    u = md5_long(F.concat(F.lit("w:"), F.col("doc_id").cast("string"))) % 1000000
    return (
        docs.filter(u * 600 < F.col("n_chars") * 1000000)
        .select(
            "doc_id",
            "n_chars",
            F.round(F.col("n_chars") / 600.0, 6).alias("keep_prob"),
        )
    )


# Shared CTE chain: corpus-self-trained add-one bigram LM, per-doc
# mean log P(w2|w1) — used by the text_bigram_logprob oracle AND the
# perplexity-gate oracle (one copy of correctness-critical SQL, the
# lsh_banded_buckets / _minhash_banded_ctes lesson applied up front).
_BIGRAM_SCORED_CTES = f"""
    toks AS (
        SELECT doc_id, string_split({_CANON}, ' ') AS t FROM documents
    ),
    grams AS (
        SELECT doc_id,
               unnest([array_to_string(t[i:i+1], ' ')
                       FOR i IN range(1, len(t))]) AS bigram
        FROM toks WHERE len(t) >= 2
    ),
    model AS (SELECT bigram, count(*) AS cb FROM grams GROUP BY bigram),
    prefix AS (
        SELECT split_part(bigram, ' ', 1) AS w1, sum(cb) AS cp
        FROM model GROUP BY 1
    ),
    vocab AS (
        SELECT count(DISTINCT tok) AS v
        FROM (SELECT unnest(t) AS tok FROM toks)
    ),
    scored AS (
        SELECT g.doc_id,
               CAST(round(ln((m.cb + 1)
                             / CAST(p.cp + vv.v AS DOUBLE)), 9)
                    AS DECIMAL(28,12)) AS lp
        FROM grams g
        JOIN model m USING (bigram)
        JOIN prefix p ON p.w1 = split_part(g.bigram, ' ', 1)
        CROSS JOIN vocab vv
    ),
    doc_scores AS (
        SELECT doc_id,
               round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS mean_logprob,
               CAST(count(*) AS BIGINT) AS n_scored
        FROM scored GROUP BY doc_id
    )"""


def _bigram_mean_logprob(docs: DataFrame) -> DataFrame:
    """(doc_id, mean_logprob, n_scored) under the corpus-self-trained
    add-one bigram LM — the Spark body shared by text_bigram_logprob
    and corpus_perplexity_gate. See q_text_bigram_logprob for the
    determinism discipline (9-dp round → exact decimal fold)."""
    from nyc_opendata_etl_spark.operators.curation import shingles

    # grams feeds two consumers (the model-count aggregate and the
    # scoring join side); both shuffle on `bigram`, so AQE's runtime
    # exchange reuse already dedups the repeated scan subtree — an A/B
    # with a localCheckpoint proxy here measured NO warm win and a
    # cold regression (the materialization barrier costs more than the
    # reused exchange), so the relation stays lazy.
    grams = docs.select(
        "doc_id", F.explode(shingles("text", 2, distinct=False)).alias("bigram")
    )
    model = grams.groupBy("bigram").agg(F.count("*").alias("cb"))
    prefix = model.groupBy(
        F.split("bigram", " ")[0].alias("w1")
    ).agg(F.sum("cb").alias("cp"))
    vocab = (
        docs.select(F.explode(text.tokens(F.lower(F.col("text")))).alias("tok"))
        .agg(F.count_distinct("tok").alias("v"))
    )
    lp = F.round(
        F.log((F.col("cb") + 1) / (F.col("cp") + F.col("v")).cast("double")), 9
    ).cast("decimal(28,12)")
    scored = (
        grams.join(model, "bigram")
        .join(prefix, F.split("bigram", " ")[0] == F.col("w1"))
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", lp.alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.sum("lp").cast("double") / F.count("*"), 6).alias("mean_logprob"),
        F.count("*").alias("n_scored"),
    )


@register(
    "text_bigram_logprob",
    oracle=f"""
    WITH {_BIGRAM_SCORED_CTES}
    SELECT doc_id, mean_logprob, n_scored FROM doc_scores
    """,
)
def q_text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-self-trained bigram LM score per document: mean
    log P(w2|w1) with add-one smoothing, P(w2|w1) = (C(w1w2)+1)/(C(w1·)+V).
    One step up from the unigram filter — it penalizes shuffled-word
    gibberish that unigram statistics cannot see. Same determinism
    discipline as text_unigram_logprob: each bigram's logprob rounds to
    9 dp then sums as an exact decimal, so the distributed fold is
    order-independent and the oracle value-matches. The bigram and
    prefix models are two partial-aggregable counts; scoring is two
    equi-joins (model sides shrink with vocabulary, not corpus — at
    100 TB they land in AQE-sized shuffles or broadcast)."""
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    return _bigram_mean_logprob(docs)


@register(
    "corpus_perplexity_gate",
    oracle=f"""
    WITH {_BIGRAM_SCORED_CTES},
    cuts AS (
        SELECT quantile_cont(mean_logprob, 1.0/3) AS c1,
               quantile_cont(mean_logprob, 2.0/3) AS c2
        FROM doc_scores
    )
    SELECT d.doc_id, d.mean_logprob,
           CASE WHEN d.mean_logprob > c.c2 THEN 'head'
                WHEN d.mean_logprob > c.c1 THEN 'middle'
                ELSE 'tail' END AS ppl_bucket,
           d.mean_logprob > c.c1 AS kept
    FROM doc_scores d CROSS JOIN cuts c
    """,
)
def q_corpus_perplexity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality gate — the CCNet-shaped pipeline stage:
    score every document under the corpus-self-trained bigram LM, cut
    the score distribution into head/middle/tail tertiles, keep
    head+middle (tail = least-LM-predictable ≈ gibberish/boilerplate
    under this proxy; a real deployment swaps the bigram scorer for a
    KenLM/model-UDF score — the gate logic is scorer-agnostic).

    Scale shape, deliberately NOT a global ntile: ranking into
    tertiles with a window function is one total order = one task at
    100 TB. The tertile CUT VALUES are a 2-number exact-percentile
    aggregate (R-7 interpolation, identical in Spark `percentile` and
    DuckDB `quantile_cont`) broadcast onto the scored relation, and
    the bucket assignment is a map-side comparison — the same
    cuts-then-compare shape CCNet uses with its sampled thresholds.
    At real scale the cuts would come from approx_percentile or a
    sample; the exact aggregate here keeps the full value oracle."""
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    # scores feeds BOTH the tertile-cut aggregate and the bucketed
    # output — without materialization the ENTIRE bigram-LM pipeline
    # (scan, canon, explode, model joins, per-doc fold) ran twice (56
    # Exchange nodes in plans/r16/corpus_perplexity_gate_before.txt).
    # The materialized footprint is the (doc_id, mean_logprob) metadata
    # proxy — two values per doc, never text.
    # DISK_ONLY: O(docs) rows — keep the proxy off the unified-memory
    # storage pool (the default level's deserialized blocks starved
    # execution memory on the like-shaped market-basket proxy at 100×).
    scores = (
        _bigram_mean_logprob(docs)
        .select("doc_id", "mean_logprob")
        .localCheckpoint(storageLevel=StorageLevel.DISK_ONLY)
    )
    cuts = scores.agg(
        F.percentile("mean_logprob", F.lit(1.0 / 3)).alias("c1"),
        F.percentile("mean_logprob", F.lit(2.0 / 3)).alias("c2"),
    )
    bucket = (
        F.when(F.col("mean_logprob") > F.col("c2"), "head")
        .when(F.col("mean_logprob") > F.col("c1"), "middle")
        .otherwise("tail")
    )
    return scores.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "mean_logprob",
        bucket.alias("ppl_bucket"),
        (F.col("mean_logprob") > F.col("c1")).alias("kept"),
    )


@register(
    "similarity_ann_recall",
    oracle=f"""
    WITH q AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0),
    exact AS (
        SELECT vec_id FROM embeddings e, q
        WHERE vec_id <> 0
        ORDER BY {_cos_sql('e.embedding', 'q.q_vec')} DESC, vec_id
        LIMIT 10
    ),
    b AS (
        SELECT vec_id, embedding,
               (CASE WHEN CAST(embedding[1] AS DOUBLE) - CAST(embedding[2] AS DOUBLE) >= 0 THEN 1 ELSE 0 END)
             + (CASE WHEN CAST(embedding[3] AS DOUBLE) - CAST(embedding[4] AS DOUBLE) >= 0 THEN 2 ELSE 0 END)
             + (CASE WHEN CAST(embedding[5] AS DOUBLE) - CAST(embedding[6] AS DOUBLE) >= 0 THEN 4 ELSE 0 END)
             + (CASE WHEN CAST(embedding[7] AS DOUBLE) - CAST(embedding[8] AS DOUBLE) >= 0 THEN 8 ELSE 0 END)
               AS bucket
        FROM embeddings
    ),
    qb AS (SELECT q_vec, bucket AS q_bucket
           FROM b JOIN q ON b.embedding = q.q_vec AND b.vec_id = 0),
    approx AS (
        SELECT b.vec_id FROM b, qb
        WHERE b.bucket = qb.q_bucket AND b.vec_id <> 0
        ORDER BY {_cos_sql('b.embedding', 'qb.q_vec')} DESC, b.vec_id
        LIMIT 10
    )
    SELECT CAST(10 AS BIGINT) AS k,
           (SELECT CAST(count(*) AS BIGINT)
            FROM exact JOIN approx USING (vec_id)) AS n_overlap,
           round((SELECT count(*) FROM exact JOIN approx USING (vec_id))
                 / 10.0, 6) AS recall_at_k
    """,
)
def q_similarity_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the LSH-bucketed ANN against exact brute force for
    the fixed probe vector — the evaluation harness an ANN deployment
    needs, expressed as a query: both top-k relations are tiny
    (TakeOrderedAndProject each), the intersection is a 10-row join,
    and the single-row report broadcasts. Every step is deterministic
    (fixed hyperplanes, vec_id tie-breaks), so recall is an exact
    cross-engine value, not a statistical claim."""
    emb = load_table(spark, sf_dir, "embeddings", spread_input=True)
    exact = similarity.cosine_topk(emb, query_vec_id=0, k=10).select("vec_id")
    planes = []
    for i in range(4):
        plane = [0.0] * 64
        plane[i * 2] = 1.0
        plane[i * 2 + 1] = -1.0
        planes.append(plane)
    approx = similarity.ann_lsh_topk(
        emb, query_vec_id=0, hyperplanes=planes, k=10
    ).select("vec_id")
    overlap = exact.join(approx, "vec_id").agg(
        F.count("*").alias("n_overlap")
    )
    return overlap.select(
        F.lit(10).cast("long").alias("k"),
        F.col("n_overlap").cast("long").alias("n_overlap"),
        F.round(F.col("n_overlap") / 10.0, 6).alias("recall_at_k"),
    )


def _kmeans_iterate_oracle(k: int = 8, iterations: int = 3) -> str:
    """Unrolled DuckDB replay of operators/similarity.kmeans_iterations:
    per iteration, argmax-cosine assignment against the current centroid
    relation, then element-wise means of the ORIGINAL vectors through
    exact decimals rounded to 6 dp (the same determinism contract as the
    Spark side, so every iteration's assignments agree bit-for-bit)."""
    cos = (
        "list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cvec)"
        " / nullif(sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),"
        "                                CAST(e.embedding AS DOUBLE[])))"
        " * sqrt(list_dot_product(c.cvec, c.cvec)), 0)"
    )
    parts = [
        f"c0 AS (SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cvec"
        f"       FROM embeddings WHERE vec_id < {k})"
    ]
    for i in range(iterations):
        parts.append(f"""
    a{i} AS (
        SELECT vec_id, embedding, cent_id
        FROM (SELECT e.vec_id, e.embedding, c.cent_id, {cos} AS sim,
                     row_number() OVER (PARTITION BY e.vec_id
                                        ORDER BY {cos} DESC, c.cent_id) AS rn
              FROM embeddings e, c{i} c)
        WHERE rn = 1 AND sim IS NOT NULL
    ),
    m{i} AS (
        SELECT cent_id, CAST(dim AS BIGINT) AS dim,
               round(CAST(sum(CAST(val AS DECIMAL(27,10))) AS DOUBLE)
                     / count(*), 6) AS mean_val,
               count(*) AS n_members
        FROM (SELECT cent_id,
                     unnest(range(len(embedding))) AS dim,
                     unnest(CAST(embedding AS DOUBLE[])) AS val
              FROM a{i})
        GROUP BY cent_id, dim
    ),
    c{i + 1} AS (
        SELECT cent_id, list(mean_val ORDER BY dim) AS cvec
        FROM m{i} GROUP BY cent_id
    )""")
    last = iterations - 1
    return (
        "WITH " + ",".join(parts)
        + f" SELECT cent_id, dim, mean_val, n_members FROM m{last}"
    )


@register("embedding_kmeans_iterate", oracle=_kmeans_iterate_oracle())
def q_embedding_kmeans_iterate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means run to 3 full Lloyd iterations (not just one
    update step): the iterative-ML loop shape — per round a broadcast
    N×k scoring, a window argmin, and a k×dim exact-decimal mean
    aggregate whose 6-dp rounding pins the recurrence so the unrolled
    DuckDB oracle replays it exactly. The driver holds no vector data;
    each round's k×dim centroid relation is lazily checkpointed to keep
    lineage O(1) per iteration (same idiom as PageRank)."""
    emb = load_table(spark, sf_dir, "embeddings", spread_input=True)
    return similarity.kmeans_iterations(emb, k=8, iterations=3)


@register(
    "corpus_vocab_stats",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang, unnest({_TOK}) AS term FROM documents
    )
    SELECT lang,
           count(*) AS n_tokens,
           count(DISTINCT term) AS n_types,
           round(count(DISTINCT term) / CAST(count(*) AS DOUBLE), 6)
               AS type_token_ratio,
           count(DISTINCT doc_id) AS n_docs
    FROM tok GROUP BY lang
    """,
)
def q_corpus_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary statistics per language: token mass, type count, and
    type-token ratio — the Heaps-law style health check that catches a
    template-collapsed or deduplication-damaged corpus slice (TTR
    craters when the same text repeats). One explode + one aggregate;
    the two distinct counts partial-aggregate map-side."""
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    tok = docs.select(
        "doc_id", "lang", F.explode(text.tokens(F.lower(F.col("text")))).alias("term")
    )
    return tok.groupBy("lang").agg(
        F.count("*").alias("n_tokens"),
        F.count_distinct("term").alias("n_types"),
        F.round(
            F.count_distinct("term") / F.count("*").cast("double"), 6
        ).alias("type_token_ratio"),
        F.count_distinct("doc_id").alias("n_docs"),
    )


# --------------------------------------------------------------------------
# Round 6: semantic dedup + char-entropy quality signal
# --------------------------------------------------------------------------

_PAIR_COS = (
    "list_dot_product(a1.v, a2.v)"
    " / (sqrt(list_dot_product(a1.v, a1.v))"
    " * sqrt(list_dot_product(a2.v, a2.v)))"
)


@register(
    "dedup_semantic",
    oracle=f"""
    WITH reps AS (
        SELECT CAST(min(vec_id) AS BIGINT) AS vec_id, embedding
        FROM embeddings GROUP BY embedding
    ),
    cents AS (
        SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cvec
        FROM reps WHERE vec_id < 8
    ),
    scored AS (
        SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, c.cent_id,
               {_COS_CENT} AS sim
        FROM reps e, cents c
    ),
    assigned AS (
        SELECT cent_id, vec_id, v
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY sim DESC, cent_id) AS rn
              FROM scored)
        WHERE rn = 1 AND sim IS NOT NULL
    )
    SELECT a1.cent_id, a1.vec_id AS id_a, a2.vec_id AS id_b,
           round({_PAIR_COS}, 6) AS cosine_sim
    FROM assigned a1 JOIN assigned a2
      ON a1.cent_id = a2.cent_id AND a1.vec_id < a2.vec_id
    WHERE round({_PAIR_COS}, 6) >= 0.4
    """,
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: one k-means (Lloyd)
    assignment against 8 deterministic seed centroids is the BLOCKING
    stage, then exact cosine pairs are verified only WITHIN each
    cluster (Abbas et al. 2023). Compared to `dedup_embedding_lsh`
    (data-oblivious hyperplane buckets) the blocking key is learned, so
    semantically close pairs co-locate more reliably at equal candidate
    volume; compared to `dedup_embedding_cosine` the pair work is
    Σ|cluster|² rather than n². One broadcast N×k scoring pass (no
    shuffle), one shuffle on cent_id, one float64 BLAS matmul per
    cluster — at 100 TB raise the centroid count so clusters fit
    executors (the paper runs 50k clusters at LAION scale)."""
    emb = load_table(spark, sf_dir, "embeddings", spread_input=True)
    return similarity.semantic_neardup_pairs(emb, n_centroids=8, threshold=0.4)


@register(
    "text_char_entropy",
    oracle="""
    WITH ch AS (
        SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
    ),
    cnt AS (
        SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY doc_id, ch
    ),
    tot AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY doc_id
    ),
    term AS (
        SELECT c.doc_id,
               CAST(round(-((CAST(c.c AS DOUBLE) / t.n)
                            * ln(CAST(c.c AS DOUBLE) / t.n)
                            / 0.6931471805599453), 9)
                    AS DECIMAL(28,12)) AS term
        FROM cnt c JOIN tot t USING (doc_id)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_distinct_chars,
           CAST(sum(term) AS DOUBLE) AS char_entropy_bits
    FROM term GROUP BY doc_id
    """,
)
def q_text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document (bits/char) — the
    classic cheap gibberish/boilerplate detector: natural English sits
    ~4.0-4.2 bits over this charset, template spam and single-char runs
    crater toward 0, and uniform random noise pushes toward log2(27).

    Scale shape: explode-to-chars stays map-local until ONE partial-
    aggregable (doc_id, ch) count; the per-doc total is a window sum
    over doc_id (no self-join), and the final per-doc aggregate reuses
    the window's doc_id partitioning — two shuffles total, both
    pre-combined map-side. Determinism: each
    char's -p·log2(p) term is rounded to 9 dp and summed as
    DECIMAL(28,12) — exact and order-independent — and the entropy is
    that exact decimal sum cast to double (NOT re-rounded: a final
    6-dp round hit a half-tie at sf0.1, the NOTES.md half-up vs
    half-even class); log2 routes through the literal ln(2) double so
    both engines divide by the same constant."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    ch = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("ch")
    ).filter(F.col("ch") != "")
    cnt = ch.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    n = F.sum("c").over(Window.partitionBy("doc_id")).cast("bigint")
    p = F.col("c").cast("double") / F.col("n")
    term = F.round(-(p * F.log(p) / F.lit(0.6931471805599453)), 9).cast(
        "decimal(28,12)"
    )
    return (
        cnt.withColumn("n", n)
        .select("doc_id", term.alias("term"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_distinct_chars"),
            F.sum("term").cast("double").alias("char_entropy_bits"),
        )
    )


@register(
    "embedding_gramian",
    oracle="""
    WITH d AS (SELECT i FROM generate_series(0, 7) t(i)),
    p AS (SELECT a.i AS i, b.i AS j FROM d a JOIN d b ON a.i <= b.i),
    g AS (
        SELECT p.i, p.j,
               sum(CAST(round(CAST(e.embedding[p.i + 1] AS DOUBLE)
                            * CAST(e.embedding[p.j + 1] AS DOUBLE), 9)
                   AS DECIMAL(28,12))) AS s_xy
        FROM embeddings e CROSS JOIN p GROUP BY 1, 2
    ),
    m AS (
        SELECT d.i,
               sum(CAST(round(CAST(e.embedding[d.i + 1] AS DOUBLE), 9)
                   AS DECIMAL(28,12))) AS m_i
        FROM embeddings e CROSS JOIN d GROUP BY 1
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings)
    SELECT CAST(g.i AS INT) AS i, CAST(g.j AS INT) AS j,
           CAST(g.s_xy AS DOUBLE) AS s_xy,
           CAST(ma.m_i AS DOUBLE) AS s_x,
           CAST(mb.m_i AS DOUBLE) AS s_y,
           nn.n AS n
    FROM g JOIN m ma ON ma.i = g.i JOIN m mb ON mb.i = g.j CROSS JOIN nn
    """,
)
def q_embedding_gramian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gramian block (upper triangle of Σ x·xᵀ plus first moments) over
    the first 8 embedding components — the distributed normal-equation /
    covariance / PCA-prep primitive (operators/similarity.gramian_block).
    The aggregation state is 44 decimals per partition regardless of row
    count (expression sums, map-side combined): at 100 TB nothing
    per-row ever shuffles, which is the difference vs exploding (row,
    i, j) triples (n·d²/2 shuffled rows). The DuckDB oracle computes the
    same sums declaratively from a generated (i, j) pair relation; the
    9-dp-round → DECIMAL(28,12) fold makes both engines' sums exact and
    order-independent."""
    emb = load_table(spark, sf_dir, "embeddings", spread_input=True)
    return similarity.gramian_block(emb, dims=8)


@register(
    "corpus_mix_temperature",
    oracle=f"""
    WITH c AS (
        SELECT lang, source,
               CAST(sum(len(list_filter(regexp_split_to_array(text, '{_WS}'),
                                        x -> x <> ''))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM c),
    term AS (
        SELECT c.lang, c.source, c.n_tokens, tot.t,
               CAST(round(sqrt(c.n_tokens / CAST(tot.t AS DOUBLE)), 9)
                    AS DECIMAL(28,12)) AS s
        FROM c CROSS JOIN tot
    ),
    den AS (SELECT sum(s) AS d FROM term)
    SELECT term.lang, term.source, term.n_tokens,
           round(term.n_tokens / CAST(term.t AS DOUBLE), 6) AS p_natural,
           round(CAST(term.s AS DOUBLE) / CAST(den.d AS DOUBLE), 6)
               AS w_temperature,
           round((CAST(term.s AS DOUBLE) / CAST(den.d AS DOUBLE))
                 / (term.n_tokens / CAST(term.t AS DOUBLE)), 6)
               AS oversample_factor
    FROM term CROSS JOIN den
    """,
)
def q_corpus_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened (τ=0.5) domain-sampling policy over
    (lang, source) cells (operators/curation.temperature_mix): natural
    token share, reweighted sampling weight ∝ √p, and the per-domain
    oversample factor a training sampler applies. √ is IEEE-exact on
    both engines and the weight normalizer folds 9-dp decimals, so the
    whole policy table is hash-verified — low-resource domains must
    come out with oversample_factor > 1 and head domains < 1."""
    from nyc_opendata_etl_spark.operators import curation

    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    return curation.temperature_mix(docs)


@register(
    "similarity_pq_encode",
    oracle="""
    WITH ms AS (SELECT i AS m FROM generate_series(0, 7) t(i)),
    subs AS (
        SELECT e.vec_id AS id, ms.m,
               CAST(list_slice(e.embedding, ms.m * 8 + 1, ms.m * 8 + 8)
                    AS DOUBLE[]) AS sub
        FROM embeddings e CROSS JOIN ms
    ),
    cents AS (
        SELECT id AS code, m, sub AS cvec FROM subs WHERE id < 16
    ),
    scored AS (
        SELECT s.id, s.m, c.code,
               round(list_dot_product(s.sub, s.sub)
                     - 2 * list_dot_product(s.sub, c.cvec)
                     + list_dot_product(c.cvec, c.cvec), 9) AS dist2,
               row_number() OVER (
                   PARTITION BY s.id, s.m
                   ORDER BY round(list_dot_product(s.sub, s.sub)
                                  - 2 * list_dot_product(s.sub, c.cvec)
                                  + list_dot_product(c.cvec, c.cvec), 9),
                            c.code
               ) AS rn
        FROM subs s JOIN cents c ON c.m = s.m
    )
    SELECT id, CAST(m AS INT) AS m, code, dist2
    FROM scored WHERE rn = 1
    """,
)
def q_similarity_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes for every embedding
    (operators/similarity.pq_encode): 8 subspaces × 16-centroid
    codebooks → 32 bits per vector instead of 256 bytes, the IVF-PQ
    compression layer under billion-scale ANN. The m·k codebook
    broadcasts and the argmin aggregates map-side, so encoding 100 TB
    of vectors shuffles only m rows per vector. dist² composes three
    sequential-fold dots (bit-identical to DuckDB's list_dot_product),
    rounded to 9 dp with code-id tie-break — the DuckDB oracle replays
    the complete assignment hash-exactly."""
    emb = load_table(spark, sf_dir, "embeddings", spread_input=True)
    return similarity.pq_encode(emb)


@register(
    "similarity_ivfpq_topk",
    oracle="""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
    ),
    cents AS (SELECT vec_id AS cid, vec AS cvec FROM e WHERE vec_id < 16),
    scored AS (
        SELECT e.vec_id, c.cid,
               list_dot_product(e.vec, c.cvec)
               / nullif(sqrt(list_dot_product(e.vec, e.vec))
                * sqrt(list_dot_product(c.cvec, c.cvec)), 0) AS sim
        FROM e CROSS JOIN cents c
    ),
    assigned AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid, sim,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, cid) AS rn
            FROM scored) WHERE rn = 1 AND sim IS NOT NULL
    ),
    probes AS (
        SELECT cid FROM scored WHERE vec_id = 42
        ORDER BY sim DESC, cid LIMIT 2
    ),
    ms AS (SELECT i AS m FROM generate_series(0, 7) t(i)),
    subs AS (
        SELECT e.vec_id AS id, ms.m,
               CAST(list_slice(e.vec, ms.m * 8 + 1, ms.m * 8 + 8)
                    AS DOUBLE[]) AS sub
        FROM e CROSS JOIN ms
    ),
    pqc AS (SELECT id AS code, m, sub AS csub FROM subs WHERE id < 16),
    codes AS (
        SELECT id, m, code FROM (
            SELECT s.id, s.m, c.code,
                   row_number() OVER (PARTITION BY s.id, s.m ORDER BY
                       round(list_dot_product(s.sub, s.sub)
                             - 2 * list_dot_product(s.sub, c.csub)
                             + list_dot_product(c.csub, c.csub), 9),
                       c.code) AS rn
            FROM subs s JOIN pqc c ON c.m = s.m) WHERE rn = 1
    ),
    qsub AS (SELECT m, sub AS qs FROM subs WHERE id = 42),
    lut AS (
        SELECT q.m, c.code,
               CAST(round(list_dot_product(q.qs, q.qs)
                          - 2 * list_dot_product(q.qs, c.csub)
                          + list_dot_product(c.csub, c.csub), 9)
                    AS DECIMAL(28,12)) AS d9
        FROM qsub q JOIN pqc c ON c.m = q.m
    ),
    cand AS (
        SELECT a.vec_id AS id FROM assigned a
        JOIN probes p ON a.cid = p.cid WHERE a.vec_id <> 42
    ),
    adc AS (
        SELECT cd.id, CAST(sum(l.d9) AS DOUBLE) AS adc_dist2
        FROM codes cd
        JOIN cand ON cand.id = cd.id
        JOIN lut l ON l.m = cd.m AND l.code = cd.code
        GROUP BY cd.id
    ),
    top AS (SELECT id, adc_dist2 FROM adc ORDER BY adc_dist2, id LIMIT 10),
    ext AS (
        SELECT e.vec_id AS id,
               round(list_dot_product(e.vec, e.vec)
                     - 2 * list_dot_product(e.vec, q.vec)
                     + list_dot_product(q.vec, q.vec), 9) AS ed2
        FROM e CROSS JOIN (SELECT vec FROM e WHERE vec_id = 42) q
        WHERE e.vec_id <> 42
        ORDER BY ed2, id LIMIT 10
    )
    SELECT t.id AS vec_id, t.adc_dist2,
           (x.id IS NOT NULL) AS in_exact_topk
    FROM top t LEFT JOIN ext x ON x.id = t.id
    """,
)
def q_similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed ANN as a STAGED-INDEX probe
    (operators/similarity.ivfpq_topk_indexed over build_ivfpq_index):
    the corpus-wide IVF assignment and PQ encoding are write-time work,
    built once per embeddings version (sources/staging mtime guard) and
    persisted with codes partitioned by cell — so the query path reads
    only its 2-of-16 probed cells via partition pruning, scores them
    from a 128-row broadcast ADC LUT, and never touches the rest of the
    index. The exact squared-L2 top-10 recall boolean still rides the
    plan (the evaluation half of the contract). Rankings are
    bit-identical to the in-query-build formulation (same deterministic
    quantizers, 9-dp DECIMAL(28,12) ADC folds), so the DuckDB oracle —
    which replays assignment, codes, LUT, routing and ranking
    declaratively — is unchanged."""
    emb = load_table(spark, sf_dir, "embeddings", spread_input=True)
    index = _stage_ivfpq_index(spark, sf_dir)
    return similarity.ivfpq_topk_indexed(spark, emb, index, query_vec_id=42)


@register(
    "similarity_ivfpq_incremental",
    # Same protocol replay as similarity_ivfpq_topk with ONE semantic
    # change: the quantizers (cents, pqc) come from the BUILD half only
    # (even vec_ids) — the incremental update routes/encodes the odd
    # half against those frozen quantizers, so the staged index equals
    # a one-shot assignment of the FULL corpus against build-half
    # quantizers. Query vector 43 is odd: it entered via the APPEND
    # path, and its top-k candidates span both halves.
    oracle="""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
    ),
    cents AS (
        SELECT vec_id AS cid, vec AS cvec FROM e
        WHERE vec_id < 16 AND vec_id % 2 = 0
    ),
    scored AS (
        SELECT e.vec_id, c.cid,
               list_dot_product(e.vec, c.cvec)
               / nullif(sqrt(list_dot_product(e.vec, e.vec))
                * sqrt(list_dot_product(c.cvec, c.cvec)), 0) AS sim
        FROM e CROSS JOIN cents c
    ),
    assigned AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid, sim,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, cid) AS rn
            FROM scored) WHERE rn = 1 AND sim IS NOT NULL
    ),
    probes AS (
        SELECT cid FROM scored WHERE vec_id = 43
        ORDER BY sim DESC, cid LIMIT 2
    ),
    ms AS (SELECT i AS m FROM generate_series(0, 7) t(i)),
    subs AS (
        SELECT e.vec_id AS id, ms.m,
               CAST(list_slice(e.vec, ms.m * 8 + 1, ms.m * 8 + 8)
                    AS DOUBLE[]) AS sub
        FROM e CROSS JOIN ms
    ),
    pqc AS (
        SELECT id AS code, m, sub AS csub FROM subs
        WHERE id < 16 AND id % 2 = 0
    ),
    codes AS (
        SELECT id, m, code FROM (
            SELECT s.id, s.m, c.code,
                   row_number() OVER (PARTITION BY s.id, s.m ORDER BY
                       round(list_dot_product(s.sub, s.sub)
                             - 2 * list_dot_product(s.sub, c.csub)
                             + list_dot_product(c.csub, c.csub), 9),
                       c.code) AS rn
            FROM subs s JOIN pqc c ON c.m = s.m) WHERE rn = 1
    ),
    qsub AS (SELECT m, sub AS qs FROM subs WHERE id = 43),
    lut AS (
        SELECT q.m, c.code,
               CAST(round(list_dot_product(q.qs, q.qs)
                          - 2 * list_dot_product(q.qs, c.csub)
                          + list_dot_product(c.csub, c.csub), 9)
                    AS DECIMAL(28,12)) AS d9
        FROM qsub q JOIN pqc c ON c.m = q.m
    ),
    cand AS (
        SELECT a.vec_id AS id FROM assigned a
        JOIN probes p ON a.cid = p.cid WHERE a.vec_id <> 43
    ),
    adc AS (
        SELECT cd.id, CAST(sum(l.d9) AS DOUBLE) AS adc_dist2
        FROM codes cd
        JOIN cand ON cand.id = cd.id
        JOIN lut l ON l.m = cd.m AND l.code = cd.code
        GROUP BY cd.id
    ),
    top AS (SELECT id, adc_dist2 FROM adc ORDER BY adc_dist2, id LIMIT 10),
    ext AS (
        SELECT e.vec_id AS id,
               round(list_dot_product(e.vec, e.vec)
                     - 2 * list_dot_product(e.vec, q.vec)
                     + list_dot_product(q.vec, q.vec), 9) AS ed2
        FROM e CROSS JOIN (SELECT vec FROM e WHERE vec_id = 43) q
        WHERE e.vec_id <> 43
        ORDER BY ed2, id LIMIT 10
    )
    SELECT t.id AS vec_id, t.adc_dist2,
           (x.id IS NOT NULL) AS in_exact_topk
    FROM top t LEFT JOIN ext x ON x.id = t.id
    """,
)
def q_similarity_ivfpq_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ probe over an INCREMENTALLY MAINTAINED staged index —
    the fourth and last staged-artifact granularity's O(new docs)
    path (operators/similarity.update_ivfpq_index over
    build_ivfpq_index): the index is built from the even-vec_id half,
    then the odd half is routed to the existing centroids and encoded
    against the existing codebook (no retraining — the FAISS add()
    contract) and appended into the cell-partitioned codes/ layout.
    The probe (query 43 — itself an appended vector) reads its 2
    probed cells via partition pruning exactly as over a one-shot
    build; the oracle replays the full protocol from raw embeddings
    (build-half quantizers, full-corpus assignment), so a value match
    verifies routing, encoding, the append, AND that old and new rows
    serve identically. Exact-L2 recall boolean rides along."""
    emb = load_table(spark, sf_dir, "embeddings", spread_input=True)
    index = _stage_ivfpq_index_incremental(spark, sf_dir)
    return similarity.ivfpq_topk_indexed(spark, emb, index, query_vec_id=43)


@register(
    "search_bm25",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOK} AS toks FROM documents),
    dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
    stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(dl) AS BIGINT) AS sum_dl
        FROM dl
    ),
    tok AS (SELECT doc_id, unnest(toks) AS term FROM d),
    tf AS (
        SELECT doc_id, term, count(*) AS tf FROM tok
        WHERE term IN ('hash', 'join', 'vector')
        GROUP BY 1, 2
    ),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    contrib AS (
        SELECT tf.doc_id,
               CAST(round(
                   ln(1 + (s.n - dfq.df + 0.5) / (dfq.df + 0.5))
                   * tf.tf * (1.2 + 1)
                   / (tf.tf + 1.2 * (1 - 0.75
                      + 0.75 * dl.dl / (CAST(s.sum_dl AS DOUBLE) / s.n))),
                   9) AS DECIMAL(28,12)) AS c
        FROM tf
        JOIN dfq USING (term)
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats s
    )
    SELECT doc_id, CAST(sum(c) AS DOUBLE) AS bm25,
           CAST(count(*) AS BIGINT) AS n_hit_terms
    FROM contrib GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
)
def q_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 for the query {hash, join, vector} as a STAGED
    posting-list probe (operators/text.bm25_topk_indexed over
    build_text_index): the corpus tokenize/explode is write-time work,
    built once per documents version (sources/staging mtime guard) into
    a term-sorted postings layout — so the query path reads only the
    three query terms' postings (pushed predicate + footer-stats file
    pruning), broadcasts the 3-row vocabulary and 1-row corpus stats,
    and top-ks via TakeOrderedAndProject. Scores are bit-identical to
    the corpus-scan formulation (same exact integers, 9-dp
    DECIMAL(28,12) folds), so the DuckDB oracle is unchanged."""
    index = _stage_text_index(spark, sf_dir)
    return text.bm25_topk_indexed(spark, index, ["hash", "join", "vector"])


@register(
    "search_bm25_incremental",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOK} AS toks FROM documents),
    dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
    stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(dl) AS BIGINT) AS sum_dl
        FROM dl
    ),
    tok AS (SELECT doc_id, unnest(toks) AS term FROM d),
    tf AS (
        SELECT doc_id, term, count(*) AS tf FROM tok
        WHERE term IN ('scan', 'filter', 'stream')
        GROUP BY 1, 2
    ),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    contrib AS (
        SELECT tf.doc_id,
               CAST(round(
                   ln(1 + (s.n - dfq.df + 0.5) / (dfq.df + 0.5))
                   * tf.tf * (1.2 + 1)
                   / (tf.tf + 1.2 * (1 - 0.75
                      + 0.75 * dl.dl / (CAST(s.sum_dl AS DOUBLE) / s.n))),
                   9) AS DECIMAL(28,12)) AS c
        FROM tf
        JOIN dfq USING (term)
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats s
    )
    SELECT doc_id, CAST(sum(c) AS DOUBLE) AS bm25,
           CAST(count(*) AS BIGINT) AS n_hit_terms
    FROM contrib GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
)
def q_search_bm25_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 for {scan, filter, stream} probed from an index
    built INCREMENTALLY (operators/text.update_text_index): the even
    half of the corpus is indexed from scratch, the odd half appended
    as a maintenance batch — postings appended (O(new docs), the old
    corpus never re-tokenized), vocab merged by full-outer df sum,
    stats added. The oracle computes BM25 over the raw full corpus, so
    a green row proves append+merge reconstructs exactly the state a
    from-scratch build would have — the hourly-ingest-vs-daily-rebuild
    contract a 100 TB index depends on."""
    index = _stage_text_index_incremental(spark, sf_dir)
    return text.bm25_topk_indexed(spark, index, ["scan", "filter", "stream"])


#: Composite passage key: doc_id * 2^20 + chunk_id. The chunk budget
#: (2^20 chunks/doc ≈ 59M tokens/doc at stride 56) is an explicit
#: contract — a corpus with longer documents raises the multiplier.
_CHUNK_KEY_BASE = 1 << 20


def _passage_key():
    """Composite passage key doc_id·2^20 + chunk_id with the budget
    ENFORCED (ADVICE r13): a doc whose chunk_id reaches
    _CHUNK_KEY_BASE would otherwise silently collide its chunks into
    the next doc's key space, corrupting retrieval attribution — a
    violating corpus must fail loudly at index-build time instead.
    The raise_error branch is inside the row expression, so the check
    is distributed and free on conforming rows."""
    return F.when(
        F.col("chunk_id") < _CHUNK_KEY_BASE,
        F.col("doc_id") * _CHUNK_KEY_BASE + F.col("chunk_id"),
    ).otherwise(
        F.raise_error(
            F.format_string(
                "doc %d chunk %d exceeds the 2^20 chunks-per-doc "
                "passage-key budget; raise _CHUNK_KEY_BASE for this corpus",
                F.col("doc_id"),
                F.col("chunk_id"),
            )
        )
    )


def _split_passage_key(hits: DataFrame) -> DataFrame:
    """Decode the composite key back to (doc_id, chunk_id) with
    INTEGER arithmetic (ADVICE r13: `/` is double-precision division,
    exact only below 2^53, so floor(key / 2^20) mis-decodes for
    doc_id ≥ 2^33 — `div` keeps the decode exact over the full long
    range a 100 TB corpus uses)."""
    return hits.select(
        F.expr(f"doc_id div {_CHUNK_KEY_BASE}").alias("doc_id"),
        F.pmod(F.col("doc_id"), F.lit(_CHUNK_KEY_BASE))
        .cast("long")
        .alias("chunk_id"),
        "bm25",
        "n_hit_terms",
    )


def _stage_chunk_text_index(spark: SparkSession, sf_dir: str) -> str:
    """Stage the PASSAGE-level posting index once per corpus version:
    chunk every document into 64-token windows (stride 56 — the
    corpus_chunk_docs geometry) and build the standard text index over
    the chunks under the composite doc·2^20+chunk key. build_text_index
    and the probes are key-agnostic, so the whole retrieval stack
    (pruned postings, broadcast vocab/stats, top-k) works at passage
    granularity unchanged — the RAG-shaped deployment."""
    from nyc_opendata_etl_spark.operators import curation
    from nyc_opendata_etl_spark.sources.staging import is_stale, stage_dir

    path = stage_dir(sf_dir, "chunk_text_index")
    if is_stale(current_dir(path), sf_dir, "documents", marker="stats/_SUCCESS"):
        docs = load_table(spark, sf_dir, "documents")
        chunks = curation.chunk_documents(docs, chunk_tokens=64, overlap=8)
        keyed = chunks.select(
            _passage_key().alias("doc_id"),
            F.col("chunk_text").alias("text"),
        )
        text.build_text_index(keyed, path)
    return path


@register(
    "search_bm25_passages",
    # the corpus_chunk_docs chunk CTE composed with the search_bm25
    # BM25 CTE under the composite key — both fragments already proven
    # by their own oracles; chunk tokens lower via list_transform (the
    # corpus is ASCII — lower() parity is the standing search_bm25
    # assumption).
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '{_WS}'),
                           x -> x <> '') AS toks
        FROM documents
    ),
    s AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
    ch AS (
        SELECT doc_id, chunk_id,
               list_slice(toks, chunk_id * 56 + 1, chunk_id * 56 + 64)
                   AS ctoks
        FROM (SELECT doc_id, toks,
                     unnest(range(0, CASE WHEN n <= 64 THEN 1
                                          ELSE (n - 64 + 55) // 56 + 1 END))
                         AS chunk_id
              FROM s)
    ),
    d AS (
        SELECT doc_id * {_CHUNK_KEY_BASE} + chunk_id AS key,
               list_transform(ctoks, x -> lower(x)) AS toks
        FROM ch
    ),
    dl AS (SELECT key, CAST(len(toks) AS BIGINT) AS dl FROM d),
    stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(dl) AS BIGINT) AS sum_dl
        FROM dl
    ),
    tok AS (SELECT key, unnest(toks) AS term FROM d),
    tf AS (
        SELECT key, term, count(*) AS tf FROM tok
        WHERE term IN ('hash', 'join', 'vector')
        GROUP BY 1, 2
    ),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    contrib AS (
        SELECT tf.key,
               CAST(round(
                   ln(1 + (s.n - dfq.df + 0.5) / (dfq.df + 0.5))
                   * tf.tf * (1.2 + 1)
                   / (tf.tf + 1.2 * (1 - 0.75
                      + 0.75 * dl.dl / (CAST(s.sum_dl AS DOUBLE) / s.n))),
                   9) AS DECIMAL(28,12)) AS c
        FROM tf
        JOIN dfq USING (term)
        JOIN dl ON dl.key = tf.key
        CROSS JOIN stats s
    ),
    scored AS (
        SELECT key, CAST(sum(c) AS DOUBLE) AS bm25,
               CAST(count(*) AS BIGINT) AS n_hit_terms
        FROM contrib GROUP BY key
        ORDER BY bm25 DESC, key LIMIT 20
    )
    SELECT CAST(key // {_CHUNK_KEY_BASE} AS BIGINT) AS doc_id,
           CAST(key % {_CHUNK_KEY_BASE} AS BIGINT) AS chunk_id,
           bm25, n_hit_terms
    FROM scored
    """,
)
def q_search_bm25_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PASSAGE-level BM25 retrieval (r13) — the RAG deployment shape:
    the staged index is built over 64-token overlapping chunks
    (corpus_chunk_docs geometry) under a composite doc·2^20+chunk key,
    and the UNCHANGED bm25_topk_indexed probe returns the top-20
    passages with their parent doc — retrieval quality at passage
    granularity without a second retrieval stack (build_text_index and
    the probes are key-agnostic; the composition is the point, like
    corpus_e2e_curation). Scale shape: identical to search_bm25 —
    chunking is write-time work in the staged build, the probe reads
    only the query terms' pruned postings whatever the passage count.
    The oracle composes the two families' proven CTE fragments, so a
    value match verifies the chunk geometry, the keying, AND the BM25
    scores end to end."""
    index = _stage_chunk_text_index(spark, sf_dir)
    hits = text.bm25_topk_indexed(spark, index, ["hash", "join", "vector"])
    return _split_passage_key(hits)


def _stage_chunk_text_index_incremental(spark: SparkSession, sf_dir: str) -> str:
    """Stage the passage index by INCREMENTAL construction: build from
    the even-doc half's chunks, then update_text_index the odd half's —
    the hourly-RAG-ingest shape (new documents arrive, ONLY their
    chunks are tokenized and appended; the indexed corpus is never
    re-read). Chunk keys inherit doc-id disjointness (the composite key
    is doc-major), satisfying update_text_index's append contract.
    _INCR_DONE proves both phases completed."""
    from nyc_opendata_etl_spark.operators import curation
    from nyc_opendata_etl_spark.sources.staging import is_stale, mark_done, stage_dir

    path = stage_dir(sf_dir, "chunk_text_index_incr")
    if is_stale(path, sf_dir, "documents", marker="_INCR_DONE"):
        docs = load_table(spark, sf_dir, "documents")

        def keyed(half: DataFrame) -> DataFrame:
            ch = curation.chunk_documents(half, chunk_tokens=64, overlap=8)
            return ch.select(
                _passage_key().alias("doc_id"),
                F.col("chunk_text").alias("text"),
            )

        text.build_text_index(keyed(docs.filter(F.col("doc_id") % 2 == 0)), path)
        text.update_text_index(
            spark, keyed(docs.filter(F.col("doc_id") % 2 == 1)), path
        )
        mark_done(path, "_INCR_DONE")
    return path


@register(
    "search_bm25_passages_incremental",
    # the search_bm25_passages oracle with the incremental query's
    # terms — the oracle recomputes passage BM25 over the raw FULL
    # corpus, so a value match proves chunk-level append+merge
    # reconstructs exactly the from-scratch index state.
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '{_WS}'),
                           x -> x <> '') AS toks
        FROM documents
    ),
    s AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
    ch AS (
        SELECT doc_id, chunk_id,
               list_slice(toks, chunk_id * 56 + 1, chunk_id * 56 + 64)
                   AS ctoks
        FROM (SELECT doc_id, toks,
                     unnest(range(0, CASE WHEN n <= 64 THEN 1
                                          ELSE (n - 64 + 55) // 56 + 1 END))
                         AS chunk_id
              FROM s)
    ),
    d AS (
        SELECT doc_id * {_CHUNK_KEY_BASE} + chunk_id AS key,
               list_transform(ctoks, x -> lower(x)) AS toks
        FROM ch
    ),
    dl AS (SELECT key, CAST(len(toks) AS BIGINT) AS dl FROM d),
    stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(dl) AS BIGINT) AS sum_dl
        FROM dl
    ),
    tok AS (SELECT key, unnest(toks) AS term FROM d),
    tf AS (
        SELECT key, term, count(*) AS tf FROM tok
        WHERE term IN ('scan', 'filter', 'stream')
        GROUP BY 1, 2
    ),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    contrib AS (
        SELECT tf.key,
               CAST(round(
                   ln(1 + (s.n - dfq.df + 0.5) / (dfq.df + 0.5))
                   * tf.tf * (1.2 + 1)
                   / (tf.tf + 1.2 * (1 - 0.75
                      + 0.75 * dl.dl / (CAST(s.sum_dl AS DOUBLE) / s.n))),
                   9) AS DECIMAL(28,12)) AS c
        FROM tf
        JOIN dfq USING (term)
        JOIN dl ON dl.key = tf.key
        CROSS JOIN stats s
    ),
    scored AS (
        SELECT key, CAST(sum(c) AS DOUBLE) AS bm25,
               CAST(count(*) AS BIGINT) AS n_hit_terms
        FROM contrib GROUP BY key
        ORDER BY bm25 DESC, key LIMIT 20
    )
    SELECT CAST(key // {_CHUNK_KEY_BASE} AS BIGINT) AS doc_id,
           CAST(key % {_CHUNK_KEY_BASE} AS BIGINT) AS chunk_id,
           bm25, n_hit_terms
    FROM scored
    """,
)
def q_search_bm25_passages_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Passage-level BM25 over an INCREMENTALLY built chunk index
    (r13): the even-doc half's chunks are indexed from scratch, the
    odd half's appended via update_text_index — new documents cost
    only their own chunking+tokenization, the hourly-RAG-ingest
    contract at passage granularity. The oracle recomputes passage
    BM25 from the raw full corpus, so a green row proves chunk-level
    append+merge reconstructs exactly the from-scratch state (the
    search_bm25_incremental proof, passage edition)."""
    index = _stage_chunk_text_index_incremental(spark, sf_dir)
    hits = text.bm25_topk_indexed(spark, index, ["scan", "filter", "stream"])
    return _split_passage_key(hits)


def _stage_text_index_compacted(spark: SparkSession, sf_dir: str) -> str:
    """Stage the posting-list index through the full LIFECYCLE: build
    over the whole corpus, DELETE every doc_id % 5 == 0 (the takedown
    batch), compact — the maintenance pass that makes deletions
    visible and re-derives vocab/stats exactly from the survivors
    (operators/index_maintenance). _COMPACT_DONE is written last,
    proving build + delete + compact all completed."""
    from nyc_opendata_etl_spark.operators import index_maintenance
    from nyc_opendata_etl_spark.sources.staging import is_stale, mark_done, stage_dir

    path = stage_dir(sf_dir, "text_index_del")
    if is_stale(path, sf_dir, "documents", marker="_COMPACT_DONE"):
        docs = load_table(spark, sf_dir, "documents")
        text.build_text_index(docs, path)
        index_maintenance.compact_text_index(
            spark,
            path,
            delete_ids=docs.filter(F.col("doc_id") % 5 == 0).select("doc_id"),
        )
        mark_done(path, "_COMPACT_DONE")
    return path


@register(
    "search_bm25_after_delete",
    # the search_bm25 oracle restricted to the SURVIVING corpus: a
    # value match proves the delete+compact pass removed exactly the
    # takedown batch from postings AND reconciled vocab (df) and stats
    # (n, sum_dl) to the survivors — BM25 scores depend on all three,
    # so a stale df or sum_dl shifts every score.
    oracle=f"""
    WITH d AS (
        SELECT doc_id, {_TOK} AS toks FROM documents WHERE doc_id % 5 <> 0
    ),
    dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
    stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(dl) AS BIGINT) AS sum_dl
        FROM dl
    ),
    tok AS (SELECT doc_id, unnest(toks) AS term FROM d),
    tf AS (
        SELECT doc_id, term, count(*) AS tf FROM tok
        WHERE term IN ('hash', 'join', 'vector')
        GROUP BY 1, 2
    ),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    contrib AS (
        SELECT tf.doc_id,
               CAST(round(
                   ln(1 + (s.n - dfq.df + 0.5) / (dfq.df + 0.5))
                   * tf.tf * (1.2 + 1)
                   / (tf.tf + 1.2 * (1 - 0.75
                      + 0.75 * dl.dl / (CAST(s.sum_dl AS DOUBLE) / s.n))),
                   9) AS DECIMAL(28,12)) AS c
        FROM tf
        JOIN dfq USING (term)
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats s
    )
    SELECT doc_id, CAST(sum(c) AS DOUBLE) AS bm25,
           CAST(count(*) AS BIGINT) AS n_hit_terms
    FROM contrib GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
)
def q_search_bm25_after_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 probe over an index that went through the full LIFECYCLE:
    build → delete (every 5th doc — the takedown/opt-out batch) →
    compact (operators/index_maintenance.compact_text_index). Deletes
    become visible AT compaction (the batch-lakehouse contract), so
    the probe plan is byte-identical to search_bm25's — no tombstone
    anti-join rides the hot path; the maintenance job paid the
    deletion. The oracle recomputes BM25 over the surviving corpus
    from raw documents, so a value match verifies postings removal AND
    the exact vocab/stats reconciliation (df, n, sum_dl all shift when
    docs leave; a stale one shifts every score). Compaction cost is
    O(index), never O(corpus text); the rewrite commits postings,
    vocab and stats together as the index's next version."""
    index = _stage_text_index_compacted(spark, sf_dir)
    return text.bm25_topk_indexed(spark, index, ["hash", "join", "vector"])


# The full hybrid-RRF pipeline as ONE reusable CTE chain — the single
# source of truth for BOTH the fusion oracle (search_hybrid_rrf) and
# the rerank oracle (search_rerank_crossenc), so a BM25 constant or
# rounding tweak can never desynchronize the two.
_HYBRID_CTES = f"""
    d AS (SELECT doc_id, {_TOK} AS toks FROM documents),
    dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
    stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(dl) AS BIGINT) AS sum_dl
        FROM dl
    ),
    tok AS (SELECT doc_id, unnest(toks) AS term FROM d),
    tf AS (
        SELECT doc_id, term, count(*) AS tf FROM tok
        WHERE term IN ('hash', 'join', 'vector')
        GROUP BY 1, 2
    ),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    bm AS (
        SELECT tf.doc_id,
               CAST(sum(CAST(round(
                   ln(1 + (s.n - dfq.df + 0.5) / (dfq.df + 0.5))
                   * tf.tf * (1.2 + 1)
                   / (tf.tf + 1.2 * (1 - 0.75
                      + 0.75 * dl.dl / (CAST(s.sum_dl AS DOUBLE) / s.n))),
                   9) AS DECIMAL(28,12))) AS DOUBLE) AS score
        FROM tf
        JOIN dfq USING (term)
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats s
        GROUP BY tf.doc_id
    ),
    ra AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
                   AS rank_a
        FROM (SELECT * FROM bm ORDER BY score DESC, doc_id LIMIT 50)
    ),
    ti AS (
        SELECT tf.doc_id,
               CAST(sum(CAST(round(
                   tf.tf * ln(s.n / CAST(dfq.df AS DOUBLE)), 9)
                   AS DECIMAL(28,12))) AS DOUBLE) AS score
        FROM tf JOIN dfq USING (term) CROSS JOIN stats s
        GROUP BY tf.doc_id
    ),
    rb AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
                   AS rank_b
        FROM (SELECT * FROM ti ORDER BY score DESC, doc_id LIMIT 50)
    ),
    cand AS (
        SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id, rank_a, rank_b,
               round(COALESCE(1.0 / (60 + rank_a), 0)
                     + COALESCE(1.0 / (60 + rank_b), 0), 6) AS rrf
        FROM ra FULL JOIN rb ON ra.doc_id = rb.doc_id
        ORDER BY rrf DESC, doc_id LIMIT 20
    )
"""


@register(
    "search_hybrid_rrf",
    oracle=f"""
    WITH {_HYBRID_CTES}
    SELECT doc_id, rank_a, rank_b, rrf FROM cand
    """,
)
def q_search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (operators/text.rrf_fuse) of two retrieval
    backends for the query {hash, join, vector}: BM25 (saturated,
    length-normalized) and plain TF-IDF term-sum — the score-free
    combination pattern used for hybrid lexical+semantic search (each
    backend's top-50 fuses via 1/(60+rank); no score calibration
    needed). BOTH backends probe the staged posting-list index
    (build_text_index) — two pruned index reads, zero corpus scans per
    execution. Both rankings and the fusion are fully
    rank-deterministic, so the DuckDB oracle replays the complete
    hybrid result."""
    from pyspark.sql import Window

    terms = ["hash", "join", "vector"]
    index = _stage_text_index(spark, sf_dir)
    bm = text.bm25_topk_indexed(spark, index, terms, k=50)
    ra = bm.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("bm25").desc(), "doc_id")),
    )
    ti = text.tfidf_topk_indexed(spark, index, terms, k=50)
    rb = ti.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("score").desc(), "doc_id")),
    )
    return text.rrf_fuse(ra, rb)




@register(
    "search_rerank_crossenc",
    oracle=f"""
    WITH {_HYBRID_CTES},
    feat AS (
        SELECT c.doc_id, c.rank_a, c.rank_b, c.rrf,
               len(list_filter(d.toks, x -> x = 'hash')) AS tf0,
               len(list_filter(d.toks, x -> x = 'join')) AS tf1,
               len(list_filter(d.toks, x -> x = 'vector')) AS tf2,
               COALESCE(list_position(d.toks, 'hash'), 0) AS fp0,
               COALESCE(list_position(d.toks, 'join'), 0) AS fp1,
               COALESCE(list_position(d.toks, 'vector'), 0) AS fp2
        FROM cand c JOIN d ON d.doc_id = c.doc_id
    ),
    sc AS (
        SELECT doc_id, rank_a, rank_b, rrf,
               round((CASE WHEN tf0 > 0 THEN 1 ELSE 0 END
                      + CASE WHEN tf1 > 0 THEN 1 ELSE 0 END
                      + CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) / 3.0, 9)
                   AS coverage,
               CAST(CAST(round(ln(1 + tf0), 9) AS DECIMAL(28,12))
                    + CAST(round(ln(1 + tf1), 9) AS DECIMAL(28,12))
                    + CAST(round(ln(1 + tf2), 9) AS DECIMAL(28,12))
                    AS DOUBLE) AS tf_score,
               list_filter([fp0, fp1, fp2], x -> x > 0) AS fps
        FROM feat
    ),
    sc2 AS (
        SELECT doc_id, rank_a, rank_b, rrf, coverage, tf_score,
               CASE WHEN len(fps) > 0
                    THEN round(1.0 / (1.0 + list_max(fps) - list_min(fps)), 9)
                    ELSE 0.0 END AS proximity,
               CASE WHEN len(fps) > 0
                    THEN round(1.0 / (1.0 + list_min(fps)), 9)
                    ELSE 0.0 END AS earliness
        FROM sc
    )
    SELECT doc_id, rank_a, rank_b, rrf, coverage, tf_score, proximity,
           earliness,
           round(2.0 * coverage + tf_score + proximity + earliness, 6)
               AS rerank_score,
           CAST(row_number() OVER (
               ORDER BY round(2.0 * coverage + tf_score + proximity
                              + earliness, 6) DESC, doc_id) AS INT) AS rerank
    FROM sc2
    ORDER BY rerank LIMIT 10
    """,
)
def q_search_rerank_crossenc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rerank stage over the hybrid-RRF candidates — completes the
    retrieval stack (sparse BM25 + dense TF-IDF → RRF fusion → rerank).
    The fused top-20 joins back to the corpus BROADCAST (the rerank
    reads 20 documents, never the corpus — the bounded-candidate
    architecture that makes an expensive per-pair cross-encoder O(k)
    at any corpus size; a real model would slot in as an Arrow-batched
    Pandas UDF over the same frame), scores each (query, doc) pair on
    deterministic interaction features (coverage, saturated tf,
    proximity, earliness — operators/text.rerank_interaction), and
    emits the top-10. Both retrieval backends probe the staged posting
    index; the oracle replays fusion AND rerank end-to-end."""
    from pyspark.sql import Window

    terms = ["hash", "join", "vector"]
    index = _stage_text_index(spark, sf_dir)
    bm = text.bm25_topk_indexed(spark, index, terms, k=50)
    ra = bm.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("bm25").desc(), "doc_id")),
    )
    ti = text.tfidf_topk_indexed(spark, index, terms, k=50)
    rb = ti.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("score").desc(), "doc_id")),
    )
    cand = text.rrf_fuse(ra, rb)
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    return text.rerank_interaction(cand, docs, terms, topk=10)


_CM_PROBES = ("join", "scan", "filter", "data", "quantile")


def _cm_bucket_sql(row_expr: str, term_expr: str, w: int = 32) -> str:
    return (
        md5_long_oracle_sql(f"concat_ws('#', {row_expr}, {term_expr})")
        + f" % {w}"
    )


@register(
    "sketch_countmin_freq",
    oracle=f"""
    WITH tok AS (
        SELECT unnest({_TOK}) AS term FROM documents
    ),
    rows_ AS (SELECT unnest([0, 1, 2, 3]) AS i),
    h AS (
        SELECT r.i AS cm_row, {_cm_bucket_sql('r.i', 't.term')} AS cm_bucket
        FROM tok t CROSS JOIN rows_ r
    ),
    cm AS (
        SELECT cm_row, cm_bucket, CAST(count(*) AS BIGINT) AS cnt
        FROM h GROUP BY 1, 2
    ),
    probes AS (
        SELECT unnest(['join', 'scan', 'filter', 'data', 'quantile'])
            AS term
    ),
    ph AS (
        SELECT t.term, r.i AS cm_row,
               {_cm_bucket_sql('r.i', 't.term')} AS cm_bucket
        FROM probes t CROSS JOIN rows_ r
    ),
    est AS (
        SELECT term, CAST(min(COALESCE(cm.cnt, 0)) AS BIGINT) AS est_freq
        FROM ph LEFT JOIN cm USING (cm_row, cm_bucket)
        GROUP BY term
    ),
    exact AS (
        SELECT p.term, CAST(count(t.term) AS BIGINT) AS exact_freq
        FROM probes p LEFT JOIN tok t ON t.term = p.term
        GROUP BY 1
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM tok)
    SELECT e.term, e.est_freq, x.exact_freq,
           e.est_freq >= x.exact_freq AS never_undercounts,
           (e.est_freq - x.exact_freq) <= (3 * n.n_tokens) // 32
               AS within_eps
    FROM est e JOIN exact x USING (term) CROSS JOIN n
    """,
)
def q_sketch_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency sketch (operators/rollup.countmin_*) — the
    FREQUENCY member of the mergeable-state matrix (HLL/Theta distinct,
    KLL quantiles, exact bitmap, count-min item counts): 4×32 integer
    counters answer "how often does term x occur in the corpus?" for
    any x, with est ≥ true and est ≤ true + εN (ε = 3/w) — heavy-hitter
    queries from constant state instead of a full-vocabulary group-by.
    w is deliberately sized below the corpus vocabulary so buckets
    genuinely collide and the estimates genuinely estimate. The state
    is built as merge(batch(even docs), batch(odd docs)), so the
    incremental re-aggregation identity rides inside the checked plan;
    estimates for five probe terms (one absent from the corpus) are
    compared against exact counts with the never-undercount and
    ε-overcount laws as driver-checked booleans. The md5-affine hash
    family replays in DuckDB, so bucket assignment — and therefore
    every estimate — is cross-engine bit-identical. Scale shape: a
    4-way scan-local explode, one ≤1024-group map-side-combined
    aggregate; the probe side broadcasts 20 rows."""
    from nyc_opendata_etl_spark.operators.rollup import (
        countmin_batch,
        countmin_estimate,
        countmin_merge,
    )

    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    # toks feeds FOUR consumers (the two even/odd countmin batches, the
    # exact probe counts, and the token total); without materialization
    # each re-ran the corpus scan + lowercase + tokenize + explode
    # (8 scan subtrees in plans/r16/sketch_countmin_freq_before.txt).
    # One localCheckpoint pins the exploded (doc_id, term) relation so
    # the corpus text is scanned and tokenized once; the
    # merge(batch(even), batch(odd)) re-aggregation identity stays in
    # the checked plan unchanged.
    # DISK_ONLY: the exploded token stream is O(total tokens) — larger
    # than the corpus metadata; keep it off the unified-memory storage
    # pool (same starvation hazard as the market-basket proxy at 100×).
    toks = docs.select(
        "doc_id", F.explode(text.tokens(F.lower(F.col("text")))).alias("term")
    ).localCheckpoint(storageLevel=StorageLevel.DISK_ONLY)
    state = countmin_merge(
        countmin_batch(toks.filter(F.col("doc_id") % 2 == 0), "term", w=32),
        countmin_batch(toks.filter(F.col("doc_id") % 2 == 1), "term", w=32),
    )
    probes = spark.createDataFrame([(t,) for t in _CM_PROBES], "term string")
    est = countmin_estimate(state, probes, w=32)
    # Exact side: filter the token stream by the LITERAL probe list
    # (pushes to the scan stage) and count map-side-combined, THEN join
    # the ≤|probes|-row aggregate. The previous probes-LEFT-JOIN-tokens
    # shape shuffled the ENTIRE exploded token relation on a hot-key
    # term — a left-outer join cannot broadcast its preserved side
    # (r13 llm_ops review). COALESCE(0) restores absent probes.
    hits = (
        toks.filter(F.col("term").isin(list(_CM_PROBES)))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("hit_freq"))
    )
    exact = probes.join(F.broadcast(hits), "term", "left").select(
        "term",
        F.coalesce(F.col("hit_freq"), F.lit(0)).cast("long").alias("exact_freq"),
    )
    n = toks.agg(F.count(F.lit(1)).cast("long").alias("n_tokens"))
    return (
        est.join(exact, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "term",
            "est_freq",
            "exact_freq",
            (F.col("est_freq") >= F.col("exact_freq")).alias(
                "never_undercounts"
            ),
            (
                (F.col("est_freq") - F.col("exact_freq"))
                <= F.expr("(3 * n_tokens) div 32")
            ).alias("within_eps"),
        )
    )


@register(
    "dedup_substring_exact",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_CANON} AS t FROM documents),
    sh AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, len(t) - 39, 10),
                   p -> substr(t, p, 40))) AS s
        FROM d WHERE len(t) >= 40
    ),
    g AS (
        SELECT {md5_long_oracle_sql('s')} AS shingle_hash,
               CAST(count(*) AS BIGINT) AS n_occurrences,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               min(doc_id) AS first_doc_id
        FROM sh GROUP BY 1
    )
    SELECT shingle_hash, n_occurrences, n_docs, first_doc_id
    FROM g WHERE n_docs >= 2
    ORDER BY n_docs DESC, shingle_hash LIMIT 100
    """,
)
def q_dedup_substring_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level duplication
    (operators/dedup.substring_dup_groups): 40-char shingles every 10
    positions of the canonical text, md5-affine hashed, groups spanning
    >= 2 distinct docs surfaced (top-100 by spread) — the
    suffix-array-style signal that catches boilerplate/templated
    passages document-level dedup misses, because the CONTAINING docs
    differ. Completes the dedup matrix's granularity axis: document
    (exact/minhash/simhash/semantic) -> passage (this) -> token
    (text_repetition). One scan-local explode into one
    map-side-combined hash aggregate; no joins, no all-pairs
    anywhere."""
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    g = dedup.substring_dup_groups(docs, length=40, stride=10, min_docs=2)
    return g.orderBy(F.col("n_docs").desc(), "shingle_hash").limit(100)


@register(
    "dedup_containment",
    oracle=f"""
    WITH reps AS (
        SELECT {_CANON} AS canon, min(doc_id) AS id
        FROM documents GROUP BY 1
    ),
    sh AS (
        SELECT id,
               unnest(list_distinct([
                   array_to_string(toks[i:i+2], ' ')
                   FOR i IN range(1, len(toks) - 1)
               ])) AS shingle
        FROM (SELECT id, string_split(canon, ' ') AS toks FROM reps)
        WHERE len(toks) >= 3
    ),
    sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id != b.id
        GROUP BY 1, 2
    )
    SELECT id_a AS contained_id, id_b AS container_id,
           round(n_common / CAST(sa.n_sh AS DOUBLE), 6) AS containment
    FROM inter JOIN sizes sa ON sa.id = id_a
    WHERE round(n_common / CAST(sa.n_sh AS DOUBLE), 6) >= 0.9
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle-containment pairs (|A∩B| / |A| ≥ 0.9, A ≠ B) —
    the asymmetric dedup axis: a short doc quoted inside a long one has
    near-zero Jaccard but containment ≈ 1. Byte-identical canonical
    texts collapse to one min-id representative FIRST (the
    exact-dedup-first ordering — identical-copy groups are
    exact_dedup_groups' territory and would otherwise grow the
    shared-shingle candidate join quadratically in group size); then
    prefix-filtered on the contained side (pigeonhole bound), full
    inverted index on the container side, exact array_intersect verify
    (operators/dedup.containment_pairs)."""
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    return dedup.containment_pairs(docs, threshold=0.9)


_TOKN = f"len(list_filter(regexp_split_to_array(text, '{_WS}'), x -> x <> ''))"


@register(
    "corpus_sample_priority",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, CAST({_TOKN} AS BIGINT) AS n_tokens FROM documents
    ),
    s AS (
        SELECT doc_id, n_tokens,
               (CAST(n_tokens + 1 AS DOUBLE) * 1000000001.0)
                   / CAST({md5_long_oracle_sql("CAST(doc_id AS VARCHAR)")} + 1
                          AS DOUBLE) AS priority
        FROM t
    ),
    r AS (
        SELECT *, row_number() OVER (ORDER BY priority DESC, doc_id) AS rk
        FROM s
    )
    SELECT CAST(rk AS INT) AS rk, doc_id, n_tokens,
           round(priority, 6) AS priority,
           round(greatest(CAST(n_tokens + 1 AS DOUBLE),
                          (SELECT priority FROM r WHERE rk = 41)), 6)
               AS est_weight
    FROM r WHERE rk <= 40
    """,
)
def q_corpus_sample_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass-weighted sample of 40 docs via priority sampling
    (top-k by w/u with deterministic md5 uniforms) plus each kept doc's
    Horvitz–Thompson weight estimate max(w, τ). The integer-ratio
    scoring makes the sample bit-reproducible across engines — the
    oracle replays it exactly."""
    from nyc_opendata_etl_spark.operators import curation

    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    return curation.priority_sample(docs, k=40)


@register(
    "dedup_sorted_neighborhood",
    oracle=f"""
    WITH r AS (
        SELECT min(doc_id) AS id, canon
        FROM (SELECT doc_id, {_CANON} AS canon FROM documents)
        GROUP BY canon
    ),
    d AS (
        SELECT id, canon,
               list_sort(list_distinct([
                   array_to_string(toks[i:i+2], ' ')
                   FOR i IN range(1, len(toks) - 1)
               ])) AS sh
        FROM (SELECT id, canon, string_split(canon, ' ') AS toks FROM r)
        WHERE len(toks) >= 3
    ),
    nb AS (
        SELECT id, sh,
               lead(id, 1) OVER w AS nid_1, lead(sh, 1) OVER w AS nsh_1,
               lead(id, 2) OVER w AS nid_2, lead(sh, 2) OVER w AS nsh_2,
               lead(id, 3) OVER w AS nid_3, lead(sh, 3) OVER w AS nsh_3
        FROM d
        WINDOW w AS (PARTITION BY substr(canon, 1, 3) ORDER BY canon, id)
    ),
    legs AS (
        SELECT least(id, nid_1) AS id_a, greatest(id, nid_1) AS id_b,
               round(len(list_intersect(sh, nsh_1))
                     / CAST(len(sh) + len(nsh_1)
                            - len(list_intersect(sh, nsh_1)) AS DOUBLE), 6)
                   AS jaccard
        FROM nb WHERE nid_1 IS NOT NULL
        UNION ALL
        SELECT least(id, nid_2), greatest(id, nid_2),
               round(len(list_intersect(sh, nsh_2))
                     / CAST(len(sh) + len(nsh_2)
                            - len(list_intersect(sh, nsh_2)) AS DOUBLE), 6)
        FROM nb WHERE nid_2 IS NOT NULL
        UNION ALL
        SELECT least(id, nid_3), greatest(id, nid_3),
               round(len(list_intersect(sh, nsh_3))
                     / CAST(len(sh) + len(nsh_3)
                            - len(list_intersect(sh, nsh_3)) AS DOUBLE), 6)
        FROM nb WHERE nid_3 IS NOT NULL
    )
    SELECT id_a, id_b, jaccard FROM legs WHERE jaccard >= 0.5
    """,
)
def q_dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup pairs: byte-identical canonical
    texts collapse to min-id representatives first (round 10 — the
    output-scale audit flagged the pre-collapse form emitting Θ(dups)
    identical-copy pairs, 1.47M rows at 100×), then per-block canonical
    sort, window-of-3 lead() comparisons, exact trigram Jaccard ≥ 0.5
    verify. The third blocking family beside LSH bands and prefix
    filtering — O(reps × window) comparisons, one map-side-combined
    collapse exchange plus one shuffle on the block key; output is
    scale-invariant under duplicate multiplicity."""
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    return dedup.sorted_neighborhood_pairs(docs, threshold=0.5)


@register(
    "dedup_snm_adaptive",
    oracle=f"""
    WITH r AS (
        SELECT min(doc_id) AS id, canon
        FROM (SELECT doc_id, {_CANON} AS canon FROM documents)
        GROUP BY canon
    ),
    d AS (
        SELECT id, canon,
               list_sort(list_distinct([
                   array_to_string(toks[i:i+2], ' ')
                   FOR i IN range(1, len(toks) - 1)
               ])) AS sh
        FROM (SELECT id, canon, string_split(canon, ' ') AS toks FROM r)
        WHERE len(toks) >= 3
    ),
    c24 AS (
        SELECT substr(canon, 1, 24) AS p24, count(*) AS n24
        FROM d GROUP BY 1
    ),
    c12 AS (SELECT substr(p24, 1, 12) AS p12, sum(n24) AS n12 FROM c24 GROUP BY 1),
    c6  AS (SELECT substr(p12, 1, 6) AS p6, sum(n12) AS n6 FROM c12 GROUP BY 1),
    c3  AS (SELECT substr(p6, 1, 3) AS p3, sum(n6) AS n3 FROM c6 GROUP BY 1),
    k AS (
        SELECT d.id, d.canon, d.sh,
               CASE WHEN c3.n3 <= 20 THEN substr(d.canon, 1, 3)
                    WHEN c6.n6 <= 20 THEN substr(d.canon, 1, 6)
                    WHEN c12.n12 <= 20 THEN substr(d.canon, 1, 12)
                    WHEN c24.n24 <= 20 THEN substr(d.canon, 1, 24)
                    ELSE substr(d.canon, 1, 24) || chr(31) || CAST(
                        {md5_long_oracle_sql("d.canon")}
                        % CAST(ceil(c24.n24 / 20.0) AS BIGINT) AS VARCHAR)
               END AS blk
        FROM d
        JOIN c3  ON substr(d.canon, 1, 3)  = c3.p3
        JOIN c6  ON substr(d.canon, 1, 6)  = c6.p6
        JOIN c12 ON substr(d.canon, 1, 12) = c12.p12
        JOIN c24 ON substr(d.canon, 1, 24) = c24.p24
    ),
    nb AS (
        SELECT id, sh,
               lead(id, 1) OVER w AS nid_1, lead(sh, 1) OVER w AS nsh_1,
               lead(id, 2) OVER w AS nid_2, lead(sh, 2) OVER w AS nsh_2,
               lead(id, 3) OVER w AS nid_3, lead(sh, 3) OVER w AS nsh_3
        FROM k
        WINDOW w AS (PARTITION BY blk ORDER BY canon, id)
    ),
    legs AS (
        SELECT least(id, nid_1) AS id_a, greatest(id, nid_1) AS id_b,
               round(len(list_intersect(sh, nsh_1))
                     / CAST(len(sh) + len(nsh_1)
                            - len(list_intersect(sh, nsh_1)) AS DOUBLE), 6)
                   AS jaccard
        FROM nb WHERE nid_1 IS NOT NULL
        UNION ALL
        SELECT least(id, nid_2), greatest(id, nid_2),
               round(len(list_intersect(sh, nsh_2))
                     / CAST(len(sh) + len(nsh_2)
                            - len(list_intersect(sh, nsh_2)) AS DOUBLE), 6)
        FROM nb WHERE nid_2 IS NOT NULL
        UNION ALL
        SELECT least(id, nid_3), greatest(id, nid_3),
               round(len(list_intersect(sh, nsh_3))
                     / CAST(len(sh) + len(nsh_3)
                            - len(list_intersect(sh, nsh_3)) AS DOUBLE), 6)
        FROM nb WHERE nid_3 IS NOT NULL
    )
    SELECT id_a, id_b, jaccard FROM legs WHERE jaccard >= 0.5
    """,
)
def q_dedup_snm_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_sorted_neighborhood with the hot-block sort bounded by
    measurement: byte-identical canonical texts collapse to min-id
    representatives first (the round-7 exact-collapse-first ordering),
    then per-block rep counts are measured at every prefix-doubling
    level (3 → 6 → 12 → 24 chars, one scan + tiny rollups) and each
    doc blocks at the shortest prefix holding ≤ 20 reps; a block still
    hot at 24 chars splits by deterministic md5 salt into ⌈n/20⌉
    buckets, so no block key can serialize an unbounded window sort.
    The block-length knob the fixed variant exposes as configuration
    (BASELINE.md round-7 10× SNM note) is here derived from the data —
    the same profile-then-act pattern as profile_key_skew. See
    operators/dedup.sorted_neighborhood_pairs_adaptive."""
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    return dedup.sorted_neighborhood_pairs_adaptive(
        docs, threshold=0.5, block_cap=20
    )


@register(
    "corpus_mix_realize",
    oracle=f"""
    WITH c AS (
        SELECT lang, source,
               CAST(sum(len(list_filter(regexp_split_to_array(text, '{_WS}'),
                                        x -> x <> ''))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM c),
    term AS (
        SELECT c.lang, c.source,
               CAST(round(sqrt(c.n_tokens / CAST(tot.t AS DOUBLE)), 9)
                    AS DECIMAL(28,12)) AS s
        FROM c CROSS JOIN tot
    ),
    den AS (SELECT sum(s) AS d FROM term),
    quota AS (
        SELECT term.lang, term.source,
               CAST(greatest(1, floor(
                   round(CAST(term.s AS DOUBLE) / CAST(den.d AS DOUBLE), 6)
                   * 200)) AS INT) AS quota
        FROM term CROSS JOIN den
    ),
    ranked AS (
        SELECT lang, source, doc_id,
               row_number() OVER (
                   PARTITION BY lang, source
                   ORDER BY {md5_long_oracle_sql("CAST(doc_id AS VARCHAR)")},
                            doc_id) AS rk
        FROM documents
    )
    SELECT r.lang, r.source, r.doc_id, CAST(r.rk AS INT) AS rk, q.quota
    FROM ranked r JOIN quota q ON r.lang = q.lang AND r.source = q.source
    WHERE r.rk <= q.quota
    """,
)
def q_corpus_mix_realize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The temperature policy made concrete: per-(lang, source) quotas
    ⌊w·200⌋ (min 1) filled by deterministic md5-ranked draws — the
    epoch-sample materialization step downstream of
    corpus_mix_temperature. Broadcast policy lookup + one rank shuffle
    on the cell key."""
    from nyc_opendata_etl_spark.operators import curation

    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    return curation.realize_mix(docs, n_target=200)


@register(
    "stats_chi2_contingency",
    oracle="""
    WITH c AS (
        SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2
    ),
    rt AS (SELECT lang, CAST(sum(o) AS BIGINT) AS r FROM c GROUP BY 1),
    ct AS (SELECT source, CAST(sum(o) AS BIGINT) AS s FROM c GROUP BY 1),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM c)
    SELECT c.lang, c.source,
           CAST(c.o AS BIGINT) AS n_obs,
           round(CAST(rt.r AS DOUBLE) * CAST(ct.s AS DOUBLE)
                 / CAST(tot.n AS DOUBLE), 6) AS expected,
           round((CAST(c.o AS DOUBLE)
                  - CAST(rt.r AS DOUBLE) * CAST(ct.s AS DOUBLE)
                    / CAST(tot.n AS DOUBLE))
                 * (CAST(c.o AS DOUBLE)
                    - CAST(rt.r AS DOUBLE) * CAST(ct.s AS DOUBLE)
                      / CAST(tot.n AS DOUBLE))
                 / (CAST(rt.r AS DOUBLE) * CAST(ct.s AS DOUBLE)
                    / CAST(tot.n AS DOUBLE)), 6) AS chi2_contrib
    FROM c
    JOIN rt ON rt.lang = c.lang
    JOIN ct ON ct.source = c.source
    CROSS JOIN tot
    """,
)
def q_stats_chi2_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square contingency cells for lang × source independence: per
    cell the observed count, expected count under independence
    (row·col/N), and the χ² contribution (o−e)²/e — the screening test
    for whether a metadata dimension is informative before stratifying
    on it. Marginals derive from one map-side-combined count aggregate;
    the |langs|- and |sources|-row marginal relations broadcast back
    onto the |cells| relation. Exact integer counts; the doubles
    appear only in (identical-tree, correctly-rounded) divisions, so
    cells hash-match across engines."""
    docs = load_table(spark, sf_dir, "documents", spread_input=True)
    c = docs.groupBy("lang", "source").agg(F.count("*").alias("o"))
    rt = c.groupBy("lang").agg(F.sum("o").cast("long").alias("r"))
    ct = c.groupBy("source").agg(F.sum("o").cast("long").alias("s"))
    tot = c.agg(F.sum("o").cast("long").alias("n"))
    exp = (
        F.col("r").cast("double")
        * F.col("s").cast("double")
        / F.col("n").cast("double")
    )
    dev = F.col("o").cast("double") - exp
    return (
        c.join(F.broadcast(rt), "lang")
        .join(F.broadcast(ct), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            F.col("o").cast("long").alias("n_obs"),
            F.round(exp, 6).alias("expected"),
            F.round(dev * dev / exp, 6).alias("chi2_contrib"),
        )
    )


_SHARD_SEED = 42
_N_SHARDS = 8
_SHARD_HV = md5_long_oracle_sql(
    f"concat_ws('|', '{_SHARD_SEED}', CAST(doc_id AS VARCHAR))"
)


@register(
    "corpus_shard_epoch",
    oracle=f"""
    WITH h AS (
        SELECT doc_id, {_SHARD_HV} AS hv
        FROM documents
    )
    SELECT doc_id,
           CAST(hv % {_N_SHARDS} AS INT) AS shard,
           CAST(row_number() OVER (
               PARTITION BY hv % {_N_SHARDS} ORDER BY hv, doc_id
           ) AS BIGINT) AS pos
    FROM h
    """,
)
def q_corpus_shard_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded epoch shuffle + sharding
    (operators/curation.shard_epoch): every document gets a (shard,
    pos) such that reading shards in (shard, pos) order is a
    seed-keyed pseudo-random permutation of the corpus — the LAST step
    of a pretraining pipeline (epoch order must be random-looking,
    reproducible across restarts, and writable as n_shards independent
    streams). One shuffle (per-shard sort window), no global total
    order — n_shards parallel sorts at 100 TB, never a single-partition
    sort."""
    from nyc_opendata_etl_spark.operators.curation import shard_epoch

    docs = load_table(spark, sf_dir, "documents")
    return shard_epoch(docs, seed=_SHARD_SEED, n_shards=_N_SHARDS)


_KNN_COS_AC = _cos_sql("a.v", "c.cvec")
_KNN_COS_QC = _cos_sql("q.qvec", "c.cvec")
_KNN_COS_AQ = _cos_sql("a.v", "p.qvec")


# The WITH-chain of the batched k-NN protocol (assignment, probe
# selection, cell-restricted scoring, per-query ranking), shared
# VERBATIM by similarity_knn_join's oracle and corpus_knn_label's
# oracle — a protocol tweak can never desynchronize
# the two (the similarity_ivfpq_retrain shared-oracle discipline).
KNN_RANKED_CTE = f"""
    WITH c AS (
        SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
        FROM embeddings WHERE vec_id < 64
    ),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    ascored AS (
        SELECT a.vec_id, a.v, c.cid, {_KNN_COS_AC} AS sim
        FROM e a CROSS JOIN c
    ),
    assigned AS (
        -- sim IS NOT NULL mirrors _ivf_assign's NULL-best drop
        SELECT vec_id, v, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY sim DESC, cid) AS rn
            FROM ascored
        ) WHERE rn = 1 AND sim IS NOT NULL
    ),
    q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
        FROM embeddings WHERE vec_id % 20 = 3
    ),
    qscored AS (
        SELECT q.query_id, q.qvec, c.cid, {_KNN_COS_QC} AS sim
        FROM q CROSS JOIN c
    ),
    probes AS (
        SELECT query_id, qvec, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY sim DESC, cid) AS rn
            FROM qscored WHERE sim IS NOT NULL
        ) WHERE rn <= 2
    ),
    cand AS (
        SELECT p.query_id, a.vec_id,
               -- "+ 0" folds a possible -0.0 to +0.0: Spark's round()
               -- (BigDecimal) never emits -0.0, DuckDB's and numpy's
               -- keep it, and the driver compare distinguishes reprs
               round({_KNN_COS_AQ}, 6) + 0 AS cosine_sim
        FROM probes p JOIN assigned a USING (cid)
        WHERE p.query_id <> a.vec_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine_sim DESC, vec_id) AS rk
        FROM cand
    )"""


@register(
    "similarity_knn_join",
    # the oracle replays the full batched protocol: one shared corpus
    # assignment, per-query probe selection, cell-restricted re-rank
    oracle=KNN_RANKED_CTE
    + """
    SELECT query_id, vec_id, cosine_sim, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 5
    """,
)
def q_similarity_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched IVF k-NN JOIN (operators/similarity.knn_join): every
    query vector (the ``vec_id % 20 == 3`` slice — an SF-scaling query
    set, ~5% of the corpus) gets its top-5 corpus neighbors restricted
    to its 2 nearest of 64 coarse cells. The amortized many-queries
    form the single-probe ANN ops don't cover: ONE shared corpus cell
    assignment, candidate volume Q·N·(n_probe/C), each cell scored as
    one unit-normalized float64 GEMM via cogroup-applyInPandas with
    per-cell top-k (the "expr" kernel — plain cid join, no forced
    broadcast, per-pair fold — is the pinned-identical declarative
    twin), one bounded row_number window per query for the global
    top-k. Deterministic end-to-end, so the DuckDB oracle replays
    assignment, probing, and re-rank exactly."""
    from nyc_opendata_etl_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings", spread_input=True)
    return similarity.knn_join(
        emb,
        emb.filter(F.col("vec_id") % 20 == 3),
        n_centroids=64,
        n_probe=2,
        k=5,
    )


_DSEM_COS = _cos_sql("t.embedding", "ev.embedding")


@register(
    "corpus_decontaminate_semantic",
    oracle=f"""
    WITH t AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 <> 0),
    ev AS (SELECT vec_id AS eval_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
    hit AS (
        SELECT t.vec_id, ev.eval_id, round({_DSEM_COS}, 6) + 0 AS sim
        FROM t CROSS JOIN ev
        WHERE round({_DSEM_COS}, 6) >= 0.3
    )
    SELECT vec_id,
           count(*) AS n_eval_hits,
           max(sim) AS max_cosine,
           CAST(first(eval_id ORDER BY sim DESC, eval_id) AS BIGINT)
               AS best_eval_id
    FROM hit GROUP BY vec_id
    """,
)
def q_corpus_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination
    (operators/curation.decontaminate_semantic): train vectors
    (``vec_id % 50 != 0``) scoring cosine ≥ 0.3 against ANY eval
    vector (``% 50 == 0`` — the stand-in benchmark suite, bounded by
    construction) are flagged with hit count, best similarity, and the
    matching eval id. The semantic twin of ``corpus_decontaminate``:
    paraphrased leakage shares no 3-gram shingle but keeps its
    embedding neighborhood. Eval side broadcasts (bounded benchmark
    contract — NOT an SF-scaling relation), train side is one scan +
    map-side aggregate: no train shuffle at any corpus size. Exact on
    purpose — a pruning false negative here is eval data left in the
    training set."""
    from nyc_opendata_etl_spark.operators.curation import decontaminate_semantic

    emb = load_table(spark, sf_dir, "embeddings", spread_input=True)
    return decontaminate_semantic(
        emb.filter(F.col("vec_id") % 50 != 0),
        emb.filter(F.col("vec_id") % 50 == 0),
        threshold=0.3,
    )


@register(
    "corpus_knn_label",
    # knn protocol CTE shared VERBATIM with similarity_knn_join's
    # oracle; only the vote aggregation is new
    oracle=KNN_RANKED_CTE
    + """
    , lab AS (
        SELECT r.query_id, e2.label
        FROM ranked r JOIN embeddings e2 ON r.vec_id = e2.vec_id
        WHERE r.rk <= 5 AND e2.label IS NOT NULL
    ),
    v AS (
        SELECT query_id, label, count(*) AS votes
        FROM lab GROUP BY 1, 2
    )
    SELECT query_id,
           CAST(first(label ORDER BY votes DESC, label) AS INT)
               AS pred_label,
           CAST(first(votes ORDER BY votes DESC, label) AS BIGINT)
               AS votes,
           CAST(sum(votes) AS BIGINT) AS n_neighbors
    FROM v GROUP BY query_id
    """,
)
def q_corpus_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label transfer (operators/similarity.knn_label): the
    ``vec_id % 20 == 3`` query slice is classified by the majority
    label of its top-5 knn_join neighbors — the quality-classifier
    bootstrap of LLM data curation (hand-label a seed, propagate
    through embedding neighborhoods, train the cheap classifier on
    the propagation). Pure composition: knn_join (same cells/probe/k
    as similarity_knn_join — the oracle literally shares its WITH
    chain) + a label join-back on a bounded Q·k relation + two hash
    aggregates with a (votes, smaller-label) deterministic tie. Votes
    count labeled neighbors only."""
    from nyc_opendata_etl_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings", spread_input=True)
    return similarity.knn_label(
        emb,
        emb.filter(F.col("vec_id") % 20 == 3),
        n_centroids=64,
        n_probe=2,
        k=5,
    )
